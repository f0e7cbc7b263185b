"""Structured Streaming pipelines over the events table (SURVEY.md §2.10,
milestone M5 — additive scope; the reference is wholly batch/request-response).

Each pipeline has a *batch twin* in queries/streaming_q.py computing the same
result with the same operators on the same data — the batch-equivalence
contract tests/test_streaming.py asserts (stream results ⊆-equal batch
results once the stream is fully drained).

Scale posture: all state is keyed (event_type / user_id), watermarks bound
state retention, and every aggregate is mergeable — the same topology runs
against Kafka at cluster scale by swapping the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import tune
from ..sources.tables import normalize_event_ts

# The file stream source requires an explicit schema, and the fixture's
# physical ts encoding has changed across generations (TIMESTAMP(NANOS) →
# nanos LongType; timestamp[us] no-UTC-flag → TimestampNTZType). Probe the
# batch footer once per sf_dir so the stream schema always matches the bytes
# on disk, then normalize to TimestampType exactly like the batch loader.
_EVENTS_FIELDS = [
    ("event_id", T.LongType()),
    ("user_id", T.LongType()),
    ("event_type", T.StringType()),
    ("value", T.DoubleType()),
    ("props", T.StringType()),
]


def _events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    ts_type = (
        spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    )
    fields = [T.StructField("event_id", T.LongType()), T.StructField("ts", ts_type)]
    fields += [T.StructField(n, t) for n, t in _EVENTS_FIELDS[1:]]
    return T.StructType(fields)


def _staged_dir(sf_dir: str) -> str:
    """Spark's file stream source requires a *directory*; the fixture is a
    single parquet file. Stage a stable symlink directory under /tmp (the
    fixture tree is read-only)."""
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = f"/tmp/mfis_event_stream_{tag}"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    target = os.path.join(sf_dir, "events.parquet")
    # lexists: a stale/broken symlink reports exists()=False but still
    # blocks os.symlink — repair it instead of crashing.
    if os.path.lexists(link):
        if os.path.realpath(link) != os.path.realpath(target):
            os.remove(link)
            os.symlink(target, link)
    else:
        os.symlink(target, link)
    return d


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch locally; a directory of arriving files — or Kafka — at
    scale). Normalizes ts to TimestampType exactly like sources.tables,
    whatever the physical encoding on disk."""
    tune(spark)
    raw = (
        spark.readStream.schema(_events_schema(spark, sf_dir))
        .format("parquet")
        .load(_staged_dir(sf_dir))
    )
    return normalize_event_ts(raw)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """10-minute tumbling windows per event_type with a 10-minute watermark:
    late data beyond the watermark is dropped; state per (type, window) is
    evicted once the watermark passes the window end."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            (F.unix_micros(F.col("w.start")) / 1_000_000)
            .cast("long")
            .alias("bucket_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in 2 windows."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_micros(F.col("w.start")) / 1_000_000)
            .cast("long")
            .alias("bucket_s"),
            "event_type",
            "n",
        )
    )


def latest_state(events: DataFrame) -> DataFrame:
    """CDC-style latest-state-per-key: for every user, the most recent
    event's (type, value, ts) plus the running event count — the
    materialized-view shape a changelog compaction maintains. Expressed
    declaratively as a max_by aggregate keyed by (ts, event_id), so the
    streaming engine keeps ONE row of state per user and updates it
    in-place each micro-batch (update/complete mode); no watermark is
    needed because state is keyed by user, not by window, and never
    expires. Batch twin: queries.streaming_q.st_cdc_latest_state."""
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
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), latest.alias("last"))
        .select(
            "user_id",
            "n_events",
            F.col("last.us").alias("last_ts_us"),
            F.col("last.event_type").alias("last_type"),
            F.col("last.value").alias("last_value"),
        )
    )


def session_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessionization per user via session_window: sessions merge
    while successive events are < gap apart; state is evicted at watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
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


def static_enriched_counts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-STATIC enrichment join + windowed rollup: each event joins
    the static customer dimension on user_id = c_custkey (the classic
    fact-stream x slowly-refreshed-dim shape), then rolls up 10-minute
    tumbling counts per market segment. Structured Streaming re-plans the
    static side per micro-batch; with a dim this small Spark broadcasts
    it, so the join adds no shuffle to the stream — the 100 TB/day
    streaming posture (the dim refresh cadence, not size, is the design
    variable; a big dim becomes a shuffle join with state only on the
    aggregate)."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.withWatermark("ts", "10 minutes")
        .join(dim, "user_id")
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


def windowed_topk_counts(events: DataFrame) -> DataFrame:
    """Stage 1 of streaming windowed top-k: 6-hour tumbling counts per
    event_type with a 6-hour watermark — an incrementally-maintainable
    keyed aggregate. Ranking is NOT incrementally maintainable in append
    mode (a late row can reorder a window's ranks), so top-k is the
    two-stage idiom: this streaming aggregate plus :func:`finalize_topk`
    applied per sink micro-batch (foreachBatch) or on the drained result.
    Batch twin: queries/streaming_q.py::st_topk_per_window."""
    return (
        events.withWatermark("ts", "6 hours")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            (F.unix_micros(F.col("w.start")) / 1_000_000)
            .cast("long")
            .alias("bucket_s"),
            "event_type",
            "n",
        )
    )


def finalize_topk(counts: DataFrame, k: int = 3) -> DataFrame:
    """Stage 2 of streaming windowed top-k: rank each window's counts
    (deterministic tie-break on event_type) and keep the top k. Batch
    logic — apply inside foreachBatch or to the fully-drained stage-1
    output."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("bucket_s").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("bucket_s", "rank", "event_type", "n")
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dedup on (user_id, event_type, minute-bucket): duplicates
    arriving within the watermark horizon are dropped with bounded state
    (dropDuplicatesWithinWatermark)."""
    keyed = events.withColumn(
        "minute_bucket",
        (F.unix_micros("ts") / 60_000_000).cast("long"),
    )
    return (
        keyed.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_bucket"])
        .select("event_id", "user_id", "event_type", "minute_bucket")
    )


def stream_stream_click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each purchase joins
    clicks from the same user within the preceding 15 minutes. Both sides
    carry watermarks so the join state is bounded (clicks older than the
    bound + watermark are evicted).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 15 minutes"))
    )
    return purchases.join(clicks, cond, "inner").select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
        .alias("gap_us"),
        "click_value",
    )


def apply_count_delta(batch_df: DataFrame, batch_id: int, target_path: str) -> None:
    """Merge one micro-batch's per-(event_type, day) counts into a derived
    table, rewriting ONLY the touched event_type partitions
    (sinks.upsert_partition_overwrite) — the streaming analog of the
    reference's incremental precompute upsert.

    Exactly-once: a ``_applied/batch=N`` marker makes re-delivered batches
    no-ops (delta-merge is not naturally idempotent, unlike the
    overwrite-by-batch-id sink below), so the count table is correct under
    foreachBatch's at-least-once contract.

    Honest caveat: the marker is written AFTER the partition overwrite, so
    a crash in between re-applies the delta on restart (double count for
    that batch). Closing that window needs the marker committed atomically
    with the data — a transactional table format, or folding the
    last-applied batch id into a manifest swapped in the same rename (the
    pattern ``sources/versioned.py`` uses). The marker protects against
    the common case: Structured Streaming re-delivering an already-
    processed batch after a query restart.
    """
    import os

    marker = os.path.join(target_path, "_applied", f"batch={batch_id}")
    if os.path.exists(marker):
        return
    spark = batch_df.sparkSession
    delta = batch_df.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.errors import AnalysisException

    from ..sources.sinks import upsert_partition_overwrite

    try:
        current = spark.read.parquet(target_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        current = None
    if current is None:
        merged = delta
    else:
        touched = delta.select("event_type").distinct()
        merged = (
            current.join(F.broadcast(touched), on="event_type", how="left_semi")
            .unionByName(delta)
            .groupBy("event_type", "day")
            .agg(F.sum("n").alias("n"))
        )
    upsert_partition_overwrite(spark, target_path, merged, ["event_type"])
    os.makedirs(marker, exist_ok=True)


def maintain_counts_incremental(stream_df: DataFrame, target_path: str):
    """Streaming materialized view: foreachBatch folds each micro-batch
    into the per-(event_type, day) count table via partition-grain rewrite.
    Returns the started query; caller drains/stops it."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: apply_count_delta(df, bid, target_path)
        )
        .start()
    )


def write_foreach_batch_idempotent(stream_df: DataFrame, out_dir: str):
    """Exactly-once-style sink: foreachBatch writes each micro-batch to a
    batch-id-named directory — re-delivered batches overwrite their own
    output instead of duplicating (idempotent by construction). Returns the
    started query; caller drains/stops it."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .start()
    )


def write_foreach_batch_jdbc(stream_df: DataFrame, url: str, table: str):
    """Streaming → JDBC sink (the reference's live architecture: incoming
    moves land in Postgres — reference main.py:56-66 reads what such a
    sink writes). foreachBatch appends each micro-batch to the JDBC
    table; Spark batches inserts per partition (the executemany analog
    of reference precompute_percentages.py:218-228). Executed for REAL
    in this environment against embedded Derby (sources.formats) — on a
    cluster the identical call points at a networked URL. Exactly-once
    hardening for production: append (batch_id, rows) and dedupe on read,
    or MERGE keyed by batch id — the parquet twin
    write_foreach_batch_idempotent shows the overwrite-by-batch variant.
    Returns the started query; caller drains/stops it."""
    from ..sources.formats import jdbc_write

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        jdbc_write(batch_df, url, table, mode="append")

    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .start()
    )


_DECAY_LAM_PER_DAY = 9.902102579427789e-2  # ln(2)/7 — 7-day half-life
_DECAY_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, fixed anchor
_US_PER_DAY_F = 8.64e10


def decayed_state(events: DataFrame) -> DataFrame:
    """Streaming sufficient statistic for the 7-day-half-life decayed
    engagement score: per user, S = SUM(value * exp(+lam*(ts-t0)/day))
    plus the event count and newest timestamp. The time-shifted form
    makes the score STREAMABLE — each event's term is a constant (no
    dependence on "now"), so this is a plain update-mode grouped
    aggregate with one state row per user and no watermark; the
    read-out score at any horizon T is S * exp(-lam*(T-t0)/day)
    (exp overflow is bounded because the anchor sits inside the data
    window: lam*(t-t0) <= lam*30d ~ 3). Batch twin + read-out:
    queries.features.st pattern in st_decayed_engagement."""
    term = F.col("value") * F.exp(
        F.lit(_DECAY_LAM_PER_DAY)
        * ((F.unix_micros("ts") - F.lit(_DECAY_T0_US)) / _US_PER_DAY_F)
    )
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(term).alias("s_shift"),
        F.max(F.unix_micros("ts")).cast("long").alias("last_us"),
    )
