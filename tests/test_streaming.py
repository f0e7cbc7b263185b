"""Batch-equivalence tests for the Structured Streaming pipelines: a bounded
file stream, fully drained, must produce exactly the batch twin's result
(SURVEY.md §2.10/M5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF_SMALL


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def event_stream_factory(spark):
    from move_forecast_ind_spark.streaming.events import read_event_stream

    return lambda: read_event_stream(spark, SF_SMALL)


def _drain(stream_df, name, mode):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def test_tumbling_equivalence(spark, event_stream_factory):
    from move_forecast_ind_spark.queries.streaming_q import st_tumbling_counts
    from move_forecast_ind_spark.streaming.events import tumbling_counts

    out = _drain(tumbling_counts(event_stream_factory()), "t_tumbling", "complete")
    batch = st_tumbling_counts(spark, SF_SMALL)
    cols = ["bucket_s", "event_type", "n", "sum_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_sliding_equivalence(spark, event_stream_factory):
    from move_forecast_ind_spark.queries.streaming_q import st_sliding_counts
    from move_forecast_ind_spark.streaming.events import sliding_counts

    out = _drain(sliding_counts(event_stream_factory()), "t_sliding", "complete")
    batch = st_sliding_counts(spark, SF_SMALL)
    cols = ["bucket_s", "event_type", "n"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_session_equivalence(spark, event_stream_factory):
    from move_forecast_ind_spark.queries.streaming_q import st_session_stats
    from move_forecast_ind_spark.streaming.events import session_stats

    out = _drain(session_stats(event_stream_factory()), "t_session", "complete")
    batch = st_session_stats(spark, SF_SMALL)
    cols = ["user_id", "session_start_s", "n_events", "duration_s"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_dedup_within_watermark(spark, event_stream_factory):
    """The drained dedup keeps one event per (user, type, minute) key, and
    per event_type exactly as many as the batch twin's unique-key count."""
    from move_forecast_ind_spark.queries.streaming_q import st_dedup_counts
    from move_forecast_ind_spark.streaming.events import dedup_within_watermark

    out = _drain(
        dedup_within_watermark(event_stream_factory()), "t_dedup", "append"
    )
    keys = [tuple(r) for r in out.select("user_id", "event_type", "minute_bucket").collect()]
    assert len(keys) == len(set(keys))
    assert len(keys) > 0
    per_type = {r.event_type: r["count"] for r in out.groupBy("event_type").count().collect()}
    batch = {r.event_type: r.n_unique for r in st_dedup_counts(spark, SF_SMALL).collect()}
    assert per_type == batch


def test_stateful_running_counts(spark, event_stream_factory):
    """Custom stateful operator via applyInPandasWithState: per-user event
    counter emitting totals on timeout — state survives across micro-batches
    and matches the batch groupBy count."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from move_forecast_ind_spark.sources import load_table

    stream = event_stream_factory().select("user_id", "event_id")

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def count_events(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counted = stream.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain(counted, "t_stateful", "update")
    # last update per user == batch count
    final = {
        r.user_id: r.n_events
        for r in out.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    }
    batch = {
        r.user_id: r.n
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == batch


def test_stream_stream_join_equivalence(spark, event_stream_factory):
    from move_forecast_ind_spark.queries.streaming_q import st_interval_join
    from move_forecast_ind_spark.streaming.events import (
        stream_stream_click_purchase_join,
    )

    out = _drain(
        stream_stream_click_purchase_join(event_stream_factory()),
        "t_ss_join",
        "append",
    )
    batch = st_interval_join(spark, SF_SMALL)
    cols = ["purchase_id", "user_id", "gap_us", "click_value"]
    assert _rows(out, cols) == _rows(batch, cols)
    assert out.count() > 0


def test_foreach_batch_idempotent_sink(spark, event_stream_factory):
    import tempfile

    from move_forecast_ind_spark.streaming.events import (
        write_foreach_batch_idempotent,
    )

    stream = event_stream_factory().select("event_id", "user_id", "event_type")
    with tempfile.TemporaryDirectory() as d:
        q = write_foreach_batch_idempotent(stream, d)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        back = spark.read.parquet(d)
        from move_forecast_ind_spark.sources import load_table

        assert back.count() == load_table(spark, SF_SMALL, "events").count()
        assert "batch" in back.columns  # partition column from batch-id dirs


def test_incremental_count_maintenance(spark, event_stream_factory):
    """Streaming materialized view (maintain_counts_incremental): draining
    the stream must produce exactly the batch groupBy of the whole table,
    and re-delivering an applied batch must be a no-op (at-least-once
    safety via the _applied marker)."""
    import tempfile

    from pyspark.sql import functions as F

    from move_forecast_ind_spark.sources import load_table
    from move_forecast_ind_spark.streaming.events import (
        apply_count_delta,
        maintain_counts_incremental,
    )

    with tempfile.TemporaryDirectory() as d:
        target = d + "/counts"
        q = maintain_counts_incremental(event_stream_factory(), target)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {
            (r.event_type, str(r.day)): r.n
            for r in spark.read.parquet(target).collect()
        }
        events = load_table(spark, SF_SMALL, "events")
        want = {
            (r.event_type, str(r.day)): r.n
            for r in events.groupBy(
                "event_type", F.to_date("ts").alias("day")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert got == want

        # replaying batch 0 (at-least-once re-delivery) must not double-count
        apply_count_delta(events, 0, target)
        again = {
            (r.event_type, str(r.day)): r.n
            for r in spark.read.parquet(target).collect()
        }
        assert again == want


def test_kafka_decode_normalizes_wire_frame(spark):
    """decode_kafka_events is pure frame→frame: a batch frame with Kafka's
    wire shape must decode to typed events, dropping malformed payloads."""
    import datetime as dt
    import json

    from move_forecast_ind_spark.streaming.sources import (
        KAFKA_WIRE_SCHEMA,
        decode_kafka_events,
    )

    def rec(i, etype="click", bad=False):
        payload = (
            b"{not json"
            if bad
            else json.dumps(
                {"event_id": i, "user_id": i % 7, "event_type": etype, "value": i / 2}
            ).encode()
        )
        return (
            str(i).encode(),
            payload,
            "events",
            i % 3,
            i,
            dt.datetime(2024, 1, 1, 0, 0, i),
        )

    wire = spark.createDataFrame(
        [rec(0), rec(1, "purchase"), rec(2, bad=True), rec(3)], KAFKA_WIRE_SCHEMA
    )
    rows = {r.event_id: r for r in decode_kafka_events(wire).collect()}
    assert set(rows) == {0, 1, 3}  # malformed record dropped, not crashed
    assert rows[1].event_type == "purchase" and rows[1].value == 0.5
    assert rows[3].partition == 0 and rows[3].offset == 3
    assert rows[0].ts == dt.datetime(2024, 1, 1, 0, 0, 0)


def test_kafka_stream_gated_cleanly(spark):
    import pytest as _pytest

    from move_forecast_ind_spark.streaming.sources import read_kafka_stream

    with _pytest.raises(NotImplementedError):
        read_kafka_stream(spark, "localhost:9092", "events")


def test_rate_stream_shapes_events(spark):
    """The rate source must deliver event-shaped rows continuously; drain a
    moment of it into memory and check the derived columns."""
    from move_forecast_ind_spark.streaming.sources import read_rate_stream

    stream = read_rate_stream(spark, rows_per_second=200)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_rate")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table("t_rate").count() >= 50:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.table("t_rate").collect()
    assert len(rows) >= 50
    by_id = {r.event_id: r for r in rows}
    for i, r in by_id.items():
        assert r.user_id == i % 1000
        assert r.event_type == f"type_{i % 4}"
        assert abs(r.value - (i % 100) / 10.0) < 1e-9


def test_stateful_user_gaps_equivalence(spark, event_stream_factory):
    """Packaged GroupState operator (streaming/stateful.py): the drained
    per-user gap state must equal the batch lag-window twin row for row."""
    from move_forecast_ind_spark.queries.streaming_q import st_stateful_user_gaps
    from move_forecast_ind_spark.streaming.stateful import stateful_user_gaps

    out = _drain(stateful_user_gaps(event_stream_factory()), "t_user_gaps", "update")
    # update mode re-emits per batch; the row with the max n_events per
    # user is the final state.
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = {
        (r.user_id, r.n_events, r.max_gap_us, r.last_seen_us)
        for r in out.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .drop("rk")
        .collect()
    }
    batch = {
        (r.user_id, r.n_events, r.max_gap_us, r.last_seen_us)
        for r in st_stateful_user_gaps(spark, SF_SMALL).collect()
    }
    assert final == batch


def test_transform_with_state_gated_cleanly(spark, event_stream_factory):
    """Spark 4's transformWithStateInPandas needs google.protobuf (the TWS
    Python runner's state-server protocol), absent in this container: the
    operator must refuse with a clear capability error BEFORE starting a
    stream, not crash mid-query. If protobuf appears, the full stream
    must drain and agree with the last-3-per-user batch computation."""
    from move_forecast_ind_spark.streaming.transform_state import (
        recent_events_state,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            recent_events_state(event_stream_factory())
        return
    out = _drain(recent_events_state(event_stream_factory()), "t_tws", "update")
    from move_forecast_ind_spark.sources import load_table

    ev = load_table(spark, SF_SMALL, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    batch = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_recent"),
            F.array_join(
                F.reverse(F.collect_list("event_type")), ","
            ).alias("recent_types"),
        )
    )
    cols = ["user_id", "n_recent"]
    assert _rows(out.select(*cols), cols) == _rows(batch.select(*cols), cols)


def test_transform_with_state_fold_logic():
    """The processor's fold is pure — drive it directly across simulated
    micro-batches and check the bounded, (ts, event_id)-ordered result."""
    from move_forecast_ind_spark.streaming.transform_state import fold_recent

    def batch(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows], unit="us"),
                "event_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )

    items = fold_recent([], batch([(100, 1, "view"), (50, 2, "click")]))
    assert [t for _, _, t in items] == ["click", "view"]
    # second micro-batch: newer events push out the oldest; ties break on id
    items = fold_recent(items, batch([(200, 3, "purchase"), (100, 0, "signup")]))
    assert [t for _, _, t in items] == ["signup", "view", "purchase"]
    assert len(items) == 3
    # state carries across an empty batch unchanged
    assert fold_recent(items, batch([])) == items


def test_foreach_batch_jdbc_sink(spark, event_stream_factory):
    """Streaming → JDBC end-to-end against embedded Derby: drain the
    event stream through foreachBatch JDBC appends, then the database
    table must hold exactly the source rows (count + per-type counts)."""
    import tempfile

    from move_forecast_ind_spark.sources import load_table
    from move_forecast_ind_spark.sources.formats import derby_url, jdbc_table
    from move_forecast_ind_spark.streaming.events import write_foreach_batch_jdbc

    url = derby_url(tempfile.mkdtemp(prefix="derby_s_") + "/db")
    st = event_stream_factory().select("event_id", "user_id", "event_type")
    q = write_foreach_batch_jdbc(st, url, "events_sink")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = jdbc_table(spark, url, "events_sink")
    src = load_table(spark, SF_SMALL, "events")
    assert back.count() == src.count()
    got = {(r.event_type, r.n) for r in back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {(r.event_type, r.n) for r in src.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_static_enrich_equivalence(spark, event_stream_factory):
    from move_forecast_ind_spark.queries.streaming_q import (
        st_static_enrich_counts,
    )
    from move_forecast_ind_spark.sources import load_table
    from move_forecast_ind_spark.streaming.events import static_enriched_counts

    customer = load_table(spark, SF_SMALL, "customer")
    out = _drain(
        static_enriched_counts(event_stream_factory(), customer),
        "t_static_enrich",
        "complete",
    )
    batch = st_static_enrich_counts(spark, SF_SMALL)
    cols = ["bucket_s", "segment", "n"]
    assert _rows(out, cols) == _rows(batch.select(*cols), cols)


def test_windowed_topk_equivalence(spark, event_stream_factory):
    """Drain the two-stage streaming top-k (windowed counts stream +
    finalize_topk rank) and assert it emits exactly the batch twin's
    rows."""
    from move_forecast_ind_spark.queries.streaming_q import st_topk_per_window
    from move_forecast_ind_spark.streaming.events import (
        finalize_topk,
        windowed_topk_counts,
    )

    drained = _drain(
        windowed_topk_counts(event_stream_factory()), "t_topk", "complete"
    )
    out = finalize_topk(drained, k=3)
    batch = st_topk_per_window(spark, SF_SMALL)
    cols = ["bucket_s", "rank", "event_type", "n"]
    assert _rows(out, cols) == _rows(batch.select(*cols), cols)


def test_latest_state_equivalence(spark, event_stream_factory):
    """CDC latest-per-key: the drained stream's one-row-per-user state
    must equal the batch twin exactly, every column (unique (ts, event_id)
    ordering key -> fully deterministic)."""
    from move_forecast_ind_spark.queries.streaming_q import st_cdc_latest_state
    from move_forecast_ind_spark.streaming.events import latest_state

    out = _drain(latest_state(event_stream_factory()), "t_latest", "complete")
    batch = st_cdc_latest_state(spark, SF_SMALL)
    cols = ["user_id", "n_events", "last_ts_us", "last_type", "last_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_decayed_engagement_equivalence(spark, event_stream_factory):
    """Streaming decayed-engagement state: drain the update-mode
    aggregate, apply the same read-out, and match the batch twin on the
    r4 grid (sum-order contract: stream accumulates across micro-batches
    in arrival order, batch in scan order)."""
    from move_forecast_ind_spark.queries.streaming_q import (
        st_decayed_engagement,
    )
    from move_forecast_ind_spark.streaming.events import (
        decayed_scores,
        decayed_state,
    )

    out = _drain(decayed_state(event_stream_factory()), "t_decay", "complete")
    scored = decayed_scores(out)
    batch = st_decayed_engagement(spark, SF_SMALL)
    cols = ["user_id", "n_events", "decayed_score"]
    assert _rows(scored, cols) == _rows(batch, cols)
