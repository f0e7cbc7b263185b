"""Forecast-production operators (round 7): reconciliation, conformal
intervals, exact decision stump, and backtest model selection.

The reference (satya-dataengineer/move-forecast-IND) ships per-branch
Prophet forecasts (main.py:169-185) but nothing around them: no hierarchy
coherence, no calibrated uncertainty beyond Prophet's own interval, no
model-selection loop. A production forecast engine needs all three, and a
training-data engine needs an exact split finder. This module adds:

- ``ml_forecast_reconcile``: hierarchical top-down reconciliation — an
  OLS-trend TOP forecast (total daily volume) distributed to the
  event-type BOTTOM level by historical share, next to each type's own
  seasonal-naive base forecast, with the bottom-up coherence gap
  quantified per future day (Hyndman & Athanasopoulos, "Forecasting:
  Principles and Practice" ch. 11 — the trace-minimization family's
  proportional special case).
- ``ml_conformal_interval``: split-conformal prediction intervals
  (Vovk et al.; Angelopoulos & Bates 2021 tutorial) — weekday-mean point
  model fit on days 0-22, nonconformity = |y - yhat| on the 7-day
  calibration tail, interval half-width = the k-th smallest calibration
  score with k = ceil((n_cal+1)*(1-alpha)), a finite-sample coverage
  guarantee that needs NO distributional assumption.
- ``ml_decision_stump``: the exact best binary split of order status F
  vs non-F on o_totalprice — candidate thresholds enumerated at a fixed
  bucket grain, weighted Gini impurity from cumulative integer counts,
  deterministic argmin. The one-node core of every tree ensemble, exact
  rather than sketched.
- ``ml_model_selection``: per-series holdout backtest across three
  standing forecasters (naive-last / seasonal-naive / train-mean) scored
  by SMAPE, winner per series — the M-competition protocol in
  miniature (Makridakis et al.).

Exactness doctrine (registry-standard): every aggregate that feeds a
comparison or a cross-row sum is either pure BIGINT (counts, day
indexes, x'x moments) or a double quantized to a fixed grid and summed
as BIGINT (the quantized-contribution idiom from a_mutual_information),
so engine accumulation order can never flip a hash. Every emitted double
is snapped through functions.rounding on BOTH sides.

100 TB posture: all four are one-to-two-shuffle plans over the daily /
bucket aggregate (map-side combine does the heavy lifting; the reduced
frames are <= |days| x |types| or |buckets| rows), then broadcast-sized
model state. Nothing here scales with raw row count after the first
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import sql_r6
from ..sources import load_table
from .registry import fmt_doc, register

_TRAIN_MAX_T = 22  # days 0..22 train; 23..29 calibration / holdout
_HORIZON = 7

# Shared daily spine: zero-filled (event_type x day) counts, so a quiet
# day is an explicit 0 and not a missing row (gap days would silently
# bias every weekday mean). One aggregate shuffle; the 5x30 spine is
# broadcast-sized at any SF because |types| and |days| are schema-level
# constants, not data volume.
_DAILY_SPINE_SQL = """
    raw AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM raw),
    spine AS (
      SELECT t.event_type, d.day
      FROM (SELECT DISTINCT event_type FROM raw) t
      CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE
                    AS day FROM bounds) d
    ),
    daily AS (
      SELECT s.event_type, s.day,
             CAST(s.day - b.mn AS INT) AS t,
             CAST(dayofweek(s.day) + 1 AS INT) AS dow,
             COALESCE(r.n, 0) AS n
      FROM spine s
      CROSS JOIN bounds b
      LEFT JOIN raw r ON r.event_type = s.event_type AND r.day = s.day
    )"""


def _daily_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _DAILY_SPINE_SQL: (event_type, day, t, dow, n)."""
    ev = load_table(spark, sf_dir, "events")
    raw = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    bounds = raw.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = (
        raw.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                bounds.select(
                    F.explode(F.sequence("mn", "mx")).alias("day")
                )
            )
        )
    )
    return (
        spine.join(F.broadcast(bounds))
        .join(raw, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.datediff("day", "mn").cast("int").alias("t"),
            F.dayofweek("day").cast("int").alias("dow"),
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        )
    )


# --- hierarchical reconciliation ---------------------------------------------


@register(
    "ml_forecast_reconcile",
    bench=True,  # r7f representative: forecast-production tier
    tags=("ml", "forecast", "hierarchy"),
    oracle=f"""
    WITH {_DAILY_SPINE_SQL},
    tot AS (
      SELECT t, dow, day, CAST(SUM(n) AS BIGINT) AS y
      FROM daily GROUP BY 1, 2, 3
    ),
    -- TOP model: OLS trend y = a + b*t over total daily volume.
    -- All moments BIGINT-exact; one double division each for slope and
    -- intercept, the identical IEEE expression on both engines.
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(CAST(t AS BIGINT) * t) AS BIGINT) AS stt,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(t AS BIGINT) * y) AS BIGINT) AS sty
      FROM tot
    ),
    coef AS (
      SELECT CAST(cnt * sty - st * sy AS DOUBLE)
               / CAST(cnt * stt - st * st AS DOUBLE) AS slope,
             (CAST(sy AS DOUBLE)
              - CAST(cnt * sty - st * sy AS DOUBLE)
                / CAST(cnt * stt - st * st AS DOUBLE) * st)
               / CAST(cnt AS DOUBLE) AS icept
      FROM mom
    ),
    -- BOTTOM model: seasonal-naive weekday mean per type (exact ratio of
    -- BIGINTs), quantized to 1e6 so the bottom-up sum is an exact BIGINT
    -- sum (accumulation-order-proof).
    dowm AS (
      SELECT event_type, dow,
             CAST(FLOOR(CAST(SUM(n) AS DOUBLE) / COUNT(*) * 1e6 + 0.5)
                  AS BIGINT) AS base_q
      FROM daily GROUP BY 1, 2
    ),
    shares AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS part,
             CAST(SUM(SUM(n)) OVER () AS BIGINT) AS whole
      FROM daily GROUP BY 1
    ),
    future AS (
      SELECT b.mx + CAST(i AS INT) AS day,
             CAST(b.mx - b.mn AS INT) + CAST(i AS INT) AS t,
             CAST(dayofweek(b.mx + CAST(i AS INT)) + 1 AS INT) AS dow
      FROM bounds b,
           LATERAL (SELECT unnest(generate_series(1, {_HORIZON})) AS i) g
    ),
    top_fc AS (
      SELECT f.day, f.t, f.dow, c.icept + c.slope * f.t AS yhat_top
      FROM future f CROSS JOIN coef c
    ),
    bu AS (
      SELECT f.day, CAST(SUM(d.base_q) AS BIGINT) AS bu_q
      FROM future f JOIN dowm d ON d.dow = f.dow
      GROUP BY 1
    )
    SELECT tf.day, d.event_type,
           d.base_q / 1e6 AS base_fc,
           FLOOR(CAST(s.part AS DOUBLE) / s.whole * 1e6 + 0.5) / 1e6 AS share,
           FLOOR(tf.yhat_top * (CAST(s.part AS DOUBLE) / s.whole) * 1e6 + 0.5)
             / 1e6 AS topdown_fc,
           FLOOR((tf.yhat_top - bu.bu_q / 1e6) * 1e6 + 0.5) / 1e6 AS bu_gap
    FROM top_fc tf
    JOIN dowm d ON d.dow = tf.dow
    JOIN shares s ON s.event_type = d.event_type
    JOIN bu ON bu.day = tf.day
    """,
)
def ml_forecast_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical top-down forecast reconciliation over the event-type
    hierarchy (bottom = per-type daily volume, top = total): the top
    level is forecast with an exact-moment OLS trend, the bottom with
    per-type seasonal-naive weekday means, and the top forecast is
    distributed to types by historical share. Emits, per (future day,
    type): the incoherent base forecast, the share, the reconciled
    top-down forecast, and the bottom-up coherence gap the
    reconciliation closes. Plan: one daily-aggregate shuffle; moments,
    weekday means, and shares are all broadcast-sized reductions of it;
    the future axis is generated, never scanned. Reference parity: the
    reference forecasts 110 branches independently with no coherence
    step (main.py:169-185) — this is the aggregate-consistency layer a
    branch hierarchy needs."""
    daily = _daily_spine(spark, sf_dir)
    tot = daily.groupBy("t", "dow", "day").agg(
        F.sum("n").cast("long").alias("y")
    )
    # Aggregate/ratio blocks as expr strings (round-9 construction-cost
    # pass — identical parsed trees, one roundtrip per expression).
    mom = tot.agg(
        F.expr("CAST(count(1) AS BIGINT) AS cnt"),
        F.expr("CAST(sum(t) AS BIGINT) AS st"),
        F.expr("CAST(sum(CAST(t AS BIGINT) * t) AS BIGINT) AS stt"),
        F.expr("CAST(sum(y) AS BIGINT) AS sy"),
        F.expr("CAST(sum(CAST(t AS BIGINT) * y) AS BIGINT) AS sty"),
    )
    _SLOPE = (
        "CAST(cnt * sty - st * sy AS DOUBLE) "
        "/ CAST(cnt * stt - st * st AS DOUBLE)"
    )
    coef = mom.selectExpr(
        f"{_SLOPE} AS slope",
        f"(CAST(sy AS DOUBLE) - ({_SLOPE}) * st) / CAST(cnt AS DOUBLE) "
        "AS icept",
    )
    dowm = daily.groupBy("event_type", "dow").agg(
        F.expr(
            "CAST(FLOOR(CAST(sum(n) AS DOUBLE) / count(1) * 1e6 + 0.5) "
            "AS BIGINT) AS base_q"
        )
    )
    shares = daily.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("part")
    )
    shares = shares.withColumn(
        "whole", F.sum("part").over(Window.partitionBy())
    )
    bounds = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    future = bounds.select(
        F.explode(
            F.sequence(
                F.date_add("mx", 1), F.date_add("mx", _HORIZON)
            )
        ).alias("day"),
        "mn",
    ).select(
        "day",
        F.datediff("day", "mn").cast("int").alias("t"),
        F.dayofweek("day").cast("int").alias("dow"),
    )
    top_fc = future.crossJoin(F.broadcast(coef)).select(
        "day",
        "t",
        "dow",
        (F.col("icept") + F.col("slope") * F.col("t")).alias("yhat_top"),
    )
    bu = (
        future.join(F.broadcast(dowm), "dow")
        .groupBy("day")
        .agg(F.sum("base_q").cast("long").alias("bu_q"))
    )
    g6 = lambda s: f"FLOOR(({s}) * 1e6 + 0.5) / 1e6"  # noqa: E731
    return (
        top_fc.join(F.broadcast(dowm), "dow")
        .join(F.broadcast(shares), "event_type")
        .join(F.broadcast(bu), "day")
        .selectExpr(
            "day",
            "event_type",
            "base_q / 1e6 AS base_fc",
            f"{g6('CAST(part AS DOUBLE) / whole')} AS share",
            f"{g6('yhat_top * (CAST(part AS DOUBLE) / whole)')} AS topdown_fc",
            f"{g6('yhat_top - bu_q / 1e6')} AS bu_gap",
        )
    )


# --- split-conformal prediction intervals ------------------------------------

_CONF_ALPHA_NUM = 1  # alpha = 1/4; k = ceil((n_cal + 1) * (1 - alpha))
_CONF_ALPHA_DEN = 4


@register(
    "ml_conformal_interval",
    tags=("ml", "forecast", "uncertainty"),
    oracle=f"""
    WITH {_DAILY_SPINE_SQL},
    dowm AS (
      SELECT event_type, dow,
             CAST(SUM(n) AS DOUBLE) / COUNT(*) AS m
      FROM daily WHERE t <= {_TRAIN_MAX_T} GROUP BY 1, 2
    ),
    cal AS (
      SELECT d.event_type, d.day, ABS(CAST(d.n AS DOUBLE) - m.m) AS s
      FROM daily d JOIN dowm m
        ON m.event_type = d.event_type AND m.dow = d.dow
      WHERE d.t > {_TRAIN_MAX_T}
    ),
    ranked AS (
      SELECT event_type, s,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s, day) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_cal
      FROM cal
    ),
    qhat AS (
      SELECT event_type, n_cal, s AS q
      FROM ranked
      WHERE rk = CAST(CEIL((n_cal + 1)
                 * (1.0 - CAST({_CONF_ALPHA_NUM} AS DOUBLE)
                          / {_CONF_ALPHA_DEN})) AS BIGINT)
    ),
    future AS (
      SELECT b.mx + CAST(i AS INT) AS day,
             CAST(dayofweek(b.mx + CAST(i AS INT)) + 1 AS INT) AS dow
      FROM bounds b,
           LATERAL (SELECT unnest(generate_series(1, {_HORIZON})) AS i) g
    )
    SELECT q.event_type, f.day,
           FLOOR(m.m * 1e4 + 0.5) / 1e4 AS point,
           FLOOR((m.m - q.q) * 1e4 + 0.5) / 1e4 AS lo,
           FLOOR((m.m + q.q) * 1e4 + 0.5) / 1e4 AS hi,
           q.n_cal
    FROM future f
    JOIN dowm m ON m.dow = f.dow
    JOIN qhat q ON q.event_type = m.event_type
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals for next week's per-type
    volume: weekday-mean point model fit on the first 23 days,
    nonconformity scores |y - yhat| on the 7-day calibration tail,
    half-width = the ceil((n+1)(1-alpha))-th smallest score (alpha=1/4
    -> the 6th of 7). Finite-sample marginal coverage >= 1-alpha holds
    by exchangeability alone — the distribution-free uncertainty layer
    the reference's Prophet intervals (model-trusting) don't provide.
    Exactness: the point model is a single exact BIGINT ratio, scores
    are one identical IEEE expression, and the order statistic is a
    deterministic (score, day)-ranked pick, so there is no double
    accumulation anywhere. Plan: daily-aggregate shuffle, one tiny
    window over 7 rows/type, broadcast joins onto a generated future
    axis."""
    daily = _daily_spine(spark, sf_dir)
    dowm = daily.filter(F.col("t") <= _TRAIN_MAX_T).groupBy(
        "event_type", "dow"
    ).agg((F.sum("n").cast("double") / F.count(F.lit(1))).alias("m"))
    cal = (
        daily.filter(F.col("t") > _TRAIN_MAX_T)
        .join(dowm, ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            F.abs(F.col("n").cast("double") - F.col("m")).alias("s"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("s", "day")
    wc = Window.partitionBy("event_type")
    ranked = cal.select(
        "event_type",
        "s",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n_cal"),
    )
    k = F.ceil(
        (F.col("n_cal") + 1)
        * (1.0 - float(_CONF_ALPHA_NUM) / _CONF_ALPHA_DEN)
    ).cast("long")
    qhat = ranked.filter(F.col("rk") == k).select(
        "event_type", "n_cal", F.col("s").alias("q")
    )
    bounds = daily.agg(F.max("day").alias("mx"))
    future = bounds.select(
        F.explode(
            F.sequence(F.date_add("mx", 1), F.date_add("mx", _HORIZON))
        ).alias("day")
    ).select("day", F.dayofweek("day").cast("int").alias("dow"))
    r4c = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (
        future.join(F.broadcast(dowm), "dow")
        .join(F.broadcast(qhat), "event_type")
        .select(
            "event_type",
            "day",
            r4c(F.col("m")).alias("point"),
            r4c(F.col("m") - F.col("q")).alias("lo"),
            r4c(F.col("m") + F.col("q")).alias("hi"),
            "n_cal",
        )
    )


# --- exact decision stump -----------------------------------------------------

_STUMP_BUCKET = 5000.0  # candidate-threshold grain on o_totalprice


@register(
    "ml_decision_stump",
    tags=("ml", "classification"),
    oracle=f"""
    WITH lab AS (
      SELECT CAST(FLOOR(o_totalprice / {_STUMP_BUCKET}) AS BIGINT) AS b,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    bc AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS f
      FROM lab GROUP BY 1
    ),
    cum AS (
      SELECT b,
             SUM(n) OVER (ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS nl,
             SUM(f) OVER (ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS fl,
             SUM(n) OVER () AS nt, SUM(f) OVER () AS ft
      FROM bc
    ),
    cand AS (
      -- CAST: a bare "b * 5000.0" stays DECIMAL in DuckDB (the literal
      -- parses as DECIMAL), while Spark's is DOUBLE — hash-type mismatch.
      SELECT CAST(b * {_STUMP_BUCKET} AS DOUBLE) AS threshold,
             CAST(nl AS BIGINT) AS n_left, CAST(nt - nl AS BIGINT) AS n_right,
             ((CAST(nl AS DOUBLE)
               - (CAST(fl * fl AS DOUBLE)
                  + CAST((nl - fl) * (nl - fl) AS DOUBLE))
                 / CAST(nl AS DOUBLE))
              + (CAST(nt - nl AS DOUBLE)
                 - (CAST((ft - fl) * (ft - fl) AS DOUBLE)
                    + CAST(((nt - nl) - (ft - fl))
                           * ((nt - nl) - (ft - fl)) AS DOUBLE))
                   / CAST(nt - nl AS DOUBLE)))
             / CAST(nt AS DOUBLE) AS gini
      FROM cum WHERE nl IS NOT NULL AND nl > 0 AND nt - nl > 0
    ),
    ranked AS (
      SELECT threshold, n_left, n_right,
             FLOOR(gini * 1e6 + 0.5) / 1e6 AS gini,
             ROW_NUMBER() OVER (
               ORDER BY FLOOR(gini * 1e6 + 0.5), threshold) AS rk
      FROM cand
    )
    SELECT threshold, n_left, n_right, gini, rk, rk = 1 AS is_best
    FROM ranked
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-split decision stump for order status F vs non-F on
    o_totalprice: candidate thresholds at a fixed 5000-unit grain,
    weighted Gini impurity per candidate from cumulative BIGINT class
    counts (one window over the ~100-row bucket frame — never over raw
    rows), deterministic (quantized-gini, threshold) argmin. This is
    the histogram trick every distributed GBDT uses (LightGBM/XGBoost
    hist mode): the full scan reduces map-side to |buckets| rows, so
    the split search costs the same at 100 TB as at 60 k rows. Emits
    the whole ranked candidate table so the margin between best and
    runner-up is visible, not just the winner."""
    lab = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / _STUMP_BUCKET)
        .cast("long")
        .alias("b"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    bc = lab.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("f"),
    )
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    cum = bc.select(
        "b",
        F.sum("n").over(wcum).alias("nl"),
        F.sum("f").over(wcum).alias("fl"),
        F.sum("n").over(wall).alias("nt"),
        F.sum("f").over(wall).alias("ft"),
    )
    nl, fl = F.col("nl"), F.col("fl")
    nr = F.col("nt") - nl
    fr = F.col("ft") - fl
    gini = (
        (
            nl.cast("double")
            - (
                (fl * fl).cast("double")
                + ((nl - fl) * (nl - fl)).cast("double")
            )
            / nl.cast("double")
        )
        + (
            nr.cast("double")
            - (
                (fr * fr).cast("double")
                + ((nr - fr) * (nr - fr)).cast("double")
            )
            / nr.cast("double")
        )
    ) / F.col("nt").cast("double")
    cand = cum.filter(nl.isNotNull() & (nl > 0) & (nr > 0)).select(
        (F.col("b") * _STUMP_BUCKET).alias("threshold"),
        nl.cast("long").alias("n_left"),
        nr.cast("long").alias("n_right"),
        gini.alias("gini"),
    )
    ranked = cand.select(
        "threshold",
        "n_left",
        "n_right",
        (F.floor(F.col("gini") * 1e6 + F.lit(0.5)) / 1e6).alias("gini"),
        F.row_number()
        .over(
            Window.orderBy(
                F.floor(F.col("gini") * 1e6 + F.lit(0.5)), "threshold"
            )
        )
        .alias("rk"),
    )
    return ranked.select(
        "threshold",
        "n_left",
        "n_right",
        "gini",
        "rk",
        (F.col("rk") == 1).alias("is_best"),
    )


# --- backtest model selection --------------------------------------------------

_SMAPE_GRID = "1e9"  # per-day SMAPE terms quantize here, sum as BIGINT


@register(
    "ml_model_selection",
    tags=("ml", "forecast", "backtest"),
    oracle=f"""
    WITH {_DAILY_SPINE_SQL},
    train AS (SELECT * FROM daily WHERE t <= {_TRAIN_MAX_T}),
    hold AS (SELECT * FROM daily WHERE t > {_TRAIN_MAX_T}),
    m_last AS (
      SELECT event_type, CAST(n AS DOUBLE) AS fc
      FROM train WHERE t = {_TRAIN_MAX_T}
    ),
    m_seas AS (
      SELECT event_type, dow, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS fc
      FROM train GROUP BY 1, 2
    ),
    m_mean AS (
      SELECT event_type, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS fc
      FROM train GROUP BY 1
    ),
    terms AS (
      SELECT h.event_type,
             CAST(FLOOR(2.0 * ABS(ml.fc - h.n) / (ABS(ml.fc) + ABS(h.n))
                        * {_SMAPE_GRID} + 0.5) AS BIGINT) AS q_last,
             CAST(FLOOR(2.0 * ABS(ms.fc - h.n) / (ABS(ms.fc) + ABS(h.n))
                        * {_SMAPE_GRID} + 0.5) AS BIGINT) AS q_seas,
             CAST(FLOOR(2.0 * ABS(mm.fc - h.n) / (ABS(mm.fc) + ABS(h.n))
                        * {_SMAPE_GRID} + 0.5) AS BIGINT) AS q_mean
      FROM hold h
      JOIN m_last ml ON ml.event_type = h.event_type
      JOIN m_seas ms ON ms.event_type = h.event_type AND ms.dow = h.dow
      JOIN m_mean mm ON mm.event_type = h.event_type
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(q_last) AS BIGINT) AS sl,
             CAST(SUM(q_seas) AS BIGINT) AS ss,
             CAST(SUM(q_mean) AS BIGINT) AS sm,
             CAST(COUNT(*) AS BIGINT) AS nh
      FROM terms GROUP BY 1
    )
    SELECT event_type,
           FLOOR(CAST(sl AS DOUBLE) / nh / {_SMAPE_GRID} * 1e6 + 0.5) / 1e6
             AS smape_last,
           FLOOR(CAST(ss AS DOUBLE) / nh / {_SMAPE_GRID} * 1e6 + 0.5) / 1e6
             AS smape_seasonal,
           FLOOR(CAST(sm AS DOUBLE) / nh / {_SMAPE_GRID} * 1e6 + 0.5) / 1e6
             AS smape_mean,
           CASE WHEN sl <= ss AND sl <= sm THEN 'last'
                WHEN sm <= ss AND sm < sl THEN 'mean'
                ELSE 'seasonal' END AS winner
    FROM agg
    """,
)
def ml_model_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series holdout model selection: three standing forecasters
    (naive-last, seasonal-naive weekday mean, train mean) fit on days
    0-22 and scored by SMAPE on the 7-day holdout; the winner per
    event_type is the exact argmin. The M-competition protocol the
    reference skips — it pins Prophet a priori (pretrain_models.py:22-29)
    where a selection loop would let the data pick the cheapest adequate
    model per series. Exactness: per-day SMAPE terms are identical IEEE
    expressions quantized to 1e9 and summed as BIGINT (the
    quantized-contribution idiom), so both the reported metrics AND the
    argmin compare exact integers; ties break last < mean < seasonal,
    mirrored in both engines. Plan: one daily shuffle, three broadcast
    model frames, one 35-row join."""
    daily = _daily_spine(spark, sf_dir)
    train = daily.filter(F.col("t") <= _TRAIN_MAX_T)
    hold = daily.filter(F.col("t") > _TRAIN_MAX_T)
    m_last = train.filter(F.col("t") == _TRAIN_MAX_T).select(
        "event_type", F.col("n").cast("double").alias("fc_l")
    )
    m_seas = train.groupBy("event_type", "dow").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("fc_s")
    )
    m_mean = train.groupBy("event_type").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("fc_m")
    )
    grid = float(_SMAPE_GRID)

    def qterm(fc: F.Column) -> F.Column:
        y = F.col("n").cast("double")
        return F.floor(
            2.0 * F.abs(fc - y) / (F.abs(fc) + F.abs(y)) * grid + F.lit(0.5)
        ).cast("long")

    terms = (
        hold.join(F.broadcast(m_last), "event_type")
        .join(F.broadcast(m_seas), ["event_type", "dow"])
        .join(F.broadcast(m_mean), "event_type")
        .select(
            "event_type",
            qterm(F.col("fc_l")).alias("q_last"),
            qterm(F.col("fc_s")).alias("q_seas"),
            qterm(F.col("fc_m")).alias("q_mean"),
        )
    )
    agg = terms.groupBy("event_type").agg(
        F.sum("q_last").cast("long").alias("sl"),
        F.sum("q_seas").cast("long").alias("ss"),
        F.sum("q_mean").cast("long").alias("sm"),
        F.count(F.lit(1)).cast("long").alias("nh"),
    )
    smape = lambda s: F.floor(  # noqa: E731
        s.cast("double") / F.col("nh") / grid * 1e6 + F.lit(0.5)
    ) / 1e6
    return agg.select(
        "event_type",
        smape(F.col("sl")).alias("smape_last"),
        smape(F.col("ss")).alias("smape_seasonal"),
        smape(F.col("sm")).alias("smape_mean"),
        F.when(
            (F.col("sl") <= F.col("ss")) & (F.col("sl") <= F.col("sm")),
            F.lit("last"),
        )
        .when(
            (F.col("sm") <= F.col("ss")) & (F.col("sm") < F.col("sl")),
            F.lit("mean"),
        )
        .otherwise(F.lit("seasonal"))
        .alias("winner"),
    )


# --- K-fold cross-validated forecaster score -----------------------------------

_CV_FOLDS = 5


@register(
    "ml_kfold_cv_score",
    tags=("ml", "forecast", "evaluation"),
    oracle=f"""
    WITH {_DAILY_SPINE_SQL},
    folded AS (
      SELECT *,
             CAST(('0x' || substr(md5(CAST(day AS VARCHAR)), 1, 4))
                  AS INTEGER) % {_CV_FOLDS} AS fold
      FROM daily
    ),
    gm AS (
      SELECT f.event_type, f.fold,
             CAST(SUM(t.n) AS DOUBLE) / COUNT(*) AS gmean
      FROM (SELECT DISTINCT event_type, fold FROM folded) f
      JOIN folded t ON t.event_type = f.event_type AND t.fold <> f.fold
      GROUP BY 1, 2
    ),
    dm AS (
      SELECT f.event_type, f.fold, f.dow,
             CAST(SUM(t.n) AS DOUBLE) / COUNT(CASE WHEN t.n IS NOT NULL
                                                   THEN 1 END) AS wmean
      FROM (SELECT DISTINCT event_type, fold, dow FROM folded) f
      LEFT JOIN folded t ON t.event_type = f.event_type
                        AND t.dow = f.dow AND t.fold <> f.fold
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT h.event_type, h.fold,
             CAST(FLOOR((COALESCE(d.wmean, g.gmean) - h.n)
                        * (COALESCE(d.wmean, g.gmean) - h.n)
                        * 1e6 + 0.5) AS BIGINT) AS sq
      FROM folded h
      JOIN gm g ON g.event_type = h.event_type AND g.fold = h.fold
      LEFT JOIN dm d ON d.event_type = h.event_type
                    AND d.fold = h.fold AND d.dow = h.dow
    )
    SELECT event_type, CAST(fold AS INT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           FLOOR(sqrt(CAST(SUM(sq) AS DOUBLE) / 1e6 / COUNT(*)) * 1e4 + 0.5)
             / 1e4 AS rmse
    FROM scored GROUP BY 1, 2
    """,
)
def ml_kfold_cv_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated RMSE of the weekday-mean forecaster per
    event type: days assign to {k} folds by the registry-standard md5
    bucket (reproducible across engines and reruns — no rand()); for
    each fold the model trains on the other {km1} and scores the held
    fold, falling back to the out-of-fold global mean when a weekday has
    no training day in that split. The honest-generalization complement
    to ml_model_selection's single holdout (and the same out-of-fold
    discipline ml_target_encoding applies to features). Exactness:
    fold means are exact BIGINT ratios; per-day squared errors are one
    IEEE expression quantized at 1e6 and summed as BIGINT; one sqrt at
    the end. Engine shape: the spine aggregates once; fold models are
    (type, fold[, dow]) aggregates of it (<= 5*5*7 rows, broadcast);
    scoring is a broadcast join back onto the 150-row spine — at 100 TB
    every stage after the daily aggregate is schema-sized."""
    daily = _daily_spine(spark, sf_dir)
    folded = daily.withColumn(
        "fold",
        F.conv(F.substring(F.md5(F.col("day").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % _CV_FOLDS,
    )
    fkeys = folded.select("event_type", "fold").distinct()
    t = folded.select(
        F.col("event_type").alias("t_et"),
        F.col("fold").alias("t_fold"),
        F.col("dow").alias("t_dow"),
        F.col("n").alias("t_n"),
    )
    gm = (
        fkeys.join(
            t,
            (F.col("t_et") == F.col("event_type"))
            & (F.col("t_fold") != F.col("fold")),
        )
        .groupBy("event_type", "fold")
        .agg(
            (F.sum("t_n").cast("double") / F.count(F.lit(1))).alias("gmean")
        )
    )
    dkeys = folded.select("event_type", "fold", "dow").distinct()
    dm = (
        dkeys.join(
            t,
            (F.col("t_et") == F.col("event_type"))
            & (F.col("t_dow") == F.col("dow"))
            & (F.col("t_fold") != F.col("fold")),
            "left",
        )
        .groupBy("event_type", "fold", "dow")
        .agg(
            (
                F.sum("t_n").cast("double")
                / F.count(F.when(F.col("t_n").isNotNull(), 1))
            ).alias("wmean")
        )
    )
    pred = F.coalesce(F.col("wmean"), F.col("gmean"))
    scored = (
        folded.join(F.broadcast(gm), ["event_type", "fold"])
        .join(F.broadcast(dm), ["event_type", "fold", "dow"], "left")
        .select(
            "event_type",
            "fold",
            F.floor(
                (pred - F.col("n")) * (pred - F.col("n")) * 1e6 + F.lit(0.5)
            )
            .cast("long")
            .alias("sq"),
        )
    )
    return scored.groupBy(
        "event_type", F.col("fold").cast("int").alias("fold")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        (
            F.floor(
                F.sqrt(F.sum("sq").cast("double") / 1e6 / F.count(F.lit(1)))
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("rmse"),
    )


fmt_doc(ml_kfold_cv_score, 
    k=_CV_FOLDS, km1=_CV_FOLDS - 1
)


# --- learning curve ------------------------------------------------------------

_LC_FRACTIONS = (1, 2, 3, 4)  # md5(day)%4 < f  ->  25/50/75/100% of train days


@register(
    "ml_learning_curve",
    tags=("ml", "forecast", "evaluation"),
    oracle=f"""
    WITH {_DAILY_SPINE_SQL},
    lab AS (
      SELECT *,
             CAST(('0x' || substr(md5(CAST(day AS VARCHAR)), 1, 4))
                  AS INTEGER) % 4 AS bucket
      FROM daily
    ),
    fr AS (SELECT unnest(ARRAY[1, 2, 3, 4]) AS f),
    models AS (
      SELECT k.event_type, k.f, k.dow,
             CAST(SUM(t.n) AS DOUBLE)
               / COUNT(CASE WHEN t.n IS NOT NULL THEN 1 END) AS wmean,
             CAST(COUNT(CASE WHEN t.n IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_train
      FROM (SELECT DISTINCT event_type, f, dow
            FROM lab CROSS JOIN fr) k
      LEFT JOIN lab t ON t.event_type = k.event_type AND t.dow = k.dow
                     AND t.t <= {_TRAIN_MAX_T} AND t.bucket < k.f
      GROUP BY 1, 2, 3
    ),
    gmods AS (
      SELECT k.event_type, k.f,
             CAST(SUM(t.n) AS DOUBLE)
               / COUNT(CASE WHEN t.n IS NOT NULL THEN 1 END) AS gmean,
             CAST(COUNT(CASE WHEN t.n IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_train
      FROM (SELECT DISTINCT event_type, f FROM lab CROSS JOIN fr) k
      LEFT JOIN lab t ON t.event_type = k.event_type
                     AND t.t <= {_TRAIN_MAX_T} AND t.bucket < k.f
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT h.event_type, g.f, g.n_train,
             CAST(FLOOR((COALESCE(m.wmean, g.gmean) - h.n)
                        * (COALESCE(m.wmean, g.gmean) - h.n)
                        * 1e6 + 0.5) AS BIGINT) AS sq
      FROM lab h
      JOIN gmods g ON g.event_type = h.event_type
      LEFT JOIN models m ON m.event_type = h.event_type
                        AND m.f = g.f AND m.dow = h.dow
      WHERE h.t > {_TRAIN_MAX_T} AND g.gmean IS NOT NULL
    )
    SELECT event_type, CAST(f * 25 AS INT) AS train_pct,
           CAST(MAX(n_train) AS BIGINT) AS n_train_days,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           FLOOR(sqrt(CAST(SUM(sq) AS DOUBLE) / 1e6 / COUNT(*)) * 1e4 + 0.5)
             / 1e4 AS rmse
    FROM scored GROUP BY 1, 2
    """,
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve of the weekday-mean forecaster: the 23-day train
    window is subsampled at 25/50/75/100% by md5 day-buckets (nested —
    each larger fraction contains the smaller, the standard
    learning-curve protocol), each subset's model scores the same 7-day
    holdout, RMSE per (type, fraction). Answers the data-economics
    question ("would more history help?") the reference never asks of
    its fixed 110-branch training set (pretrain_models.py). A weekday
    with no sampled train day falls back to the subset's global mean;
    fractions with an empty subset are dropped (identically both
    engines). Exactness: subset means are exact BIGINT ratios; squared
    errors quantize at 1e6 and sum as BIGINT. Engine shape: spine
    aggregate once; models are (type, fraction[, dow]) reductions
    joined broadcast onto the 35-row holdout — the 4x fraction fan-out
    multiplies the SPINE, never raw data."""
    daily = _daily_spine(spark, sf_dir)
    lab = daily.withColumn(
        "bucket",
        F.conv(F.substring(F.md5(F.col("day").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 4,
    )
    fr = spark.range(1, 5).select(F.col("id").cast("int").alias("f"))
    t = lab.select(
        F.col("event_type").alias("t_et"),
        F.col("dow").alias("t_dow"),
        F.col("n").alias("t_n"),
        F.col("t").alias("t_t"),
        F.col("bucket").alias("t_bucket"),
    )
    keys = lab.crossJoin(F.broadcast(fr)).select(
        "event_type", "f", "dow"
    ).distinct()
    train_cond = (
        (F.col("t_et") == F.col("event_type"))
        & (F.col("t_t") <= _TRAIN_MAX_T)
        & (F.col("t_bucket") < F.col("f"))
    )
    models = (
        keys.join(t, train_cond & (F.col("t_dow") == F.col("dow")), "left")
        .groupBy("event_type", "f", "dow")
        .agg(
            (
                F.sum("t_n").cast("double")
                / F.count(F.when(F.col("t_n").isNotNull(), 1))
            ).alias("wmean"),
        )
    )
    gkeys = lab.crossJoin(F.broadcast(fr)).select("event_type", "f").distinct()
    gmods = (
        gkeys.join(t, train_cond, "left")
        .groupBy("event_type", "f")
        .agg(
            (
                F.sum("t_n").cast("double")
                / F.count(F.when(F.col("t_n").isNotNull(), 1))
            ).alias("gmean"),
            F.count(F.when(F.col("t_n").isNotNull(), 1))
            .cast("long")
            .alias("n_train"),
        )
    )
    pred = F.coalesce(F.col("wmean"), F.col("gmean"))
    scored = (
        lab.filter(F.col("t") > _TRAIN_MAX_T)
        .join(F.broadcast(gmods), "event_type")
        .filter(F.col("gmean").isNotNull())
        .join(F.broadcast(models), ["event_type", "f", "dow"], "left")
        .select(
            "event_type",
            "f",
            "n_train",
            F.floor(
                (pred - F.col("n")) * (pred - F.col("n")) * 1e6 + F.lit(0.5)
            )
            .cast("long")
            .alias("sq"),
        )
    )
    return scored.groupBy(
        "event_type", (F.col("f") * 25).cast("int").alias("train_pct")
    ).agg(
        F.max("n_train").cast("long").alias("n_train_days"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        (
            F.floor(
                F.sqrt(F.sum("sq").cast("double") / 1e6 / F.count(F.lit(1)))
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("rmse"),
    )


# --- exact Shapley R² decomposition ---------------------------------------------


@register(
    "ml_shapley_r2",
    tags=("ml", "explainability"),
    oracle=f"""
    WITH {_DAILY_SPINE_SQL},
    feat AS (
      SELECT event_type,
             CAST(t AS BIGINT) AS x1,
             CAST(CASE WHEN dow IN (1, 7) THEN 1 ELSE 0 END AS BIGINT) AS x2,
             n AS y
      FROM daily
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x1 * x1) AS BIGINT) AS s11,
             CAST(SUM(x2 * x2) AS BIGINT) AS s22,
             CAST(SUM(x1 * x2) AS BIGINT) AS s12,
             CAST(SUM(x1 * y) AS BIGINT) AS s1y,
             CAST(SUM(x2 * y) AS BIGINT) AS s2y,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM feat GROUP BY 1
    ),
    cen AS (
      SELECT event_type,
             CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
             CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
             CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
             CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
             CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy
      FROM mom
    ),
    r2 AS (
      SELECT event_type,
             c1y * c1y / (c11 * cyy) AS r2_1,
             c2y * c2y / (c22 * cyy) AS r2_2,
             (c1y * (c22 * c1y - c12 * c2y)
              + c2y * (c11 * c2y - c12 * c1y))
               / ((c11 * c22 - c12 * c12) * cyy) AS r2_12
      FROM cen
    )
    SELECT event_type,
           {sql_r6("r2_1")} AS r2_trend,
           {sql_r6("r2_2")} AS r2_weekend,
           {sql_r6("r2_12")} AS r2_full,
           {sql_r6("5e-1 * (r2_1 + (r2_12 - r2_2))")} AS shap_trend,
           {sql_r6("5e-1 * (r2_2 + (r2_12 - r2_1))")} AS shap_weekend
    FROM r2
    """,
)
def ml_shapley_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley decomposition of forecast R² between two features
    (trend index, weekend flag) per event-type series: R² for every
    feature subset from closed-form normal equations over exact BIGINT
    moments, then the two-player Shapley values
    phi_i = 1/2[(R²({i}) - R²(∅)) + (R²({1,2}) - R²({-i}))] — the
    LMG / Shapley-regression attribution (Lipovetsky & Conklin 2001)
    computed exactly, not sampled, because the 2^k subset lattice is
    enumerable at k=2. Efficiency holds by construction:
    shap_trend + shap_weekend = r2_full (a pinned test invariant).
    Exactness: all ten raw moments are BIGINT sums in ONE map-side
    aggregate; centered moments and every R² are single IEEE
    expressions of them (cast to double only at combination time —
    products of centered moments exceed int64 by design). At 100 TB:
    one aggregate, k rows, zero joins."""
    daily = _daily_spine(spark, sf_dir)
    feat = daily.select(
        "event_type",
        F.col("t").cast("long").alias("x1"),
        F.when(F.col("dow").isin(1, 7), 1)
        .otherwise(0)
        .cast("long")
        .alias("x2"),
        F.col("n").alias("y"),
    )
    mom = feat.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    cen = mom.select(
        "event_type",
        (F.col("n") * F.col("s11") - F.col("s1") * F.col("s1"))
        .cast("double")
        .alias("c11"),
        (F.col("n") * F.col("s22") - F.col("s2") * F.col("s2"))
        .cast("double")
        .alias("c22"),
        (F.col("n") * F.col("s12") - F.col("s1") * F.col("s2"))
        .cast("double")
        .alias("c12"),
        (F.col("n") * F.col("s1y") - F.col("s1") * F.col("sy"))
        .cast("double")
        .alias("c1y"),
        (F.col("n") * F.col("s2y") - F.col("s2") * F.col("sy"))
        .cast("double")
        .alias("c2y"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("cyy"),
    )
    r2 = cen.select(
        "event_type",
        (F.col("c1y") * F.col("c1y") / (F.col("c11") * F.col("cyy"))).alias(
            "r2_1"
        ),
        (F.col("c2y") * F.col("c2y") / (F.col("c22") * F.col("cyy"))).alias(
            "r2_2"
        ),
        (
            (
                F.col("c1y")
                * (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y"))
                + F.col("c2y")
                * (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y"))
            )
            / (
                (F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12"))
                * F.col("cyy")
            )
        ).alias("r2_12"),
    )
    g6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return r2.select(
        "event_type",
        g6(F.col("r2_1")).alias("r2_trend"),
        g6(F.col("r2_2")).alias("r2_weekend"),
        g6(F.col("r2_12")).alias("r2_full"),
        g6(F.lit(5e-1) * (F.col("r2_1") + (F.col("r2_12") - F.col("r2_2")))).alias(
            "shap_trend"
        ),
        g6(F.lit(5e-1) * (F.col("r2_2") + (F.col("r2_12") - F.col("r2_1")))).alias(
            "shap_weekend"
        ),
    )


# --- AR(2) Yule-Walker forecast --------------------------------------------------

_AR2_H = 7


def _ar2_oracle() -> str:
    """Autocovariances by exact-moment expansion, Yule-Walker closed
    form, then 7 unrolled recursion layers (identical op order to the
    Spark fold)."""
    steps = []
    prev2, prev1 = "c.ylast2", "c.ylast1"
    fc_rows = []
    for h in range(1, _AR2_H + 1):
        cur = f"f{h}"
        steps.append(
            f"{cur} AS (SELECT c.*, c.ybar + c.phi1 * ({prev1} - c.ybar)"
            f" + c.phi2 * ({prev2} - c.ybar) AS yh{h}"
            f" FROM {'c' if h == 1 else f'f{h - 1}'} c)"
        )
        prev2 = prev1 if h == 1 else f"c.yh{h - 1}"
        prev1 = f"c.yh{h}"
        fc_rows.append(
            f"SELECT event_type, {h} AS h,"
            f" FLOOR(yh{h} * 1e4 + 0.5) / 1e4 AS forecast,"
            f" FLOOR(phi1 * 1e6 + 0.5) / 1e6 AS phi1,"
            f" FLOOR(phi2 * 1e6 + 0.5) / 1e6 AS phi2"
            f" FROM f{_AR2_H}"
        )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y, day,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS t,
             LAG(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS y1,
             LAG(y, 2) OVER (PARTITION BY event_type ORDER BY day) AS y2,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS sy
      FROM daily
    ),
    mom AS (
      SELECT event_type, MAX(n) AS n, MAX(sy) AS sy,
             CAST(SUM(y * y) AS BIGINT) AS s00,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y * y1 END) AS BIGINT)
               AS s01,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y END) AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y1 END) AS BIGINT) AS b1,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y * y2 END) AS BIGINT)
               AS s02,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y END) AS BIGINT) AS a2,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y2 END) AS BIGINT) AS b2,
             MAX(CASE WHEN t = n THEN y END) AS ylast1,
             MAX(CASE WHEN t = n - 1 THEN y END) AS ylast2
      FROM idx GROUP BY 1
    ),
    cov AS (
      SELECT event_type, n, ylast1, ylast2,
             CAST(sy AS DOUBLE) / n AS ybar,
             (s00 - CAST(sy AS DOUBLE) / n * (sy + sy)
                  + n * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
               AS c0,
             (s01 - CAST(sy AS DOUBLE) / n * (a1 + b1)
                  + (n - 1) * (CAST(sy AS DOUBLE) / n)
                    * (CAST(sy AS DOUBLE) / n)) AS c1,
             (s02 - CAST(sy AS DOUBLE) / n * (a2 + b2)
                  + (n - 2) * (CAST(sy AS DOUBLE) / n)
                    * (CAST(sy AS DOUBLE) / n)) AS c2
      FROM mom
    ),
    c AS (
      SELECT event_type, n, ybar,
             CAST(ylast1 AS DOUBLE) AS ylast1,
             CAST(ylast2 AS DOUBLE) AS ylast2,
             (c1 / c0) * (1e0 - c2 / c0)
               / (1e0 - (c1 / c0) * (c1 / c0)) AS phi1,
             (c2 / c0 - (c1 / c0) * (c1 / c0))
               / (1e0 - (c1 / c0) * (c1 / c0)) AS phi2
      FROM cov
    ),
    {", ".join(steps)}
    {" UNION ALL ".join(fc_rows)}
    """


@register(
    "ml_ar2_forecast",
    tags=("ml", "forecast", "timeseries"),
    oracle=_ar2_oracle(),
)
def ml_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) forecast per event-type daily series, fit by Yule-Walker:
    autocovariances c0/c1/c2 from exact BIGINT cross moments (the
    lagged-product expansion — no centered double accumulates across
    rows), phi1/phi2 in closed form, then a 7-step mean-reverting
    recursion seeded with the last two observations — the order-2
    upgrade of ml_ar1_forecast that can express oscillation/momentum an
    AR(1) cannot. Exactness: the recursion unrolls with the identical
    left-associated expression per step on both engines (7 layers on a
    5-row frame — far below the 4^K projection-blowup regime, and the
    oracle's generated CTE stack is the same sequence). Engine shape:
    one daily aggregate, one lag window, a k-row moment reduce; the
    recursion is constant-size column math."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(wo).cast("long").alias("t"),
        F.lag("y", 1).over(wo).alias("y1"),
        F.lag("y", 2).over(wo).alias("y2"),
        F.count(F.lit(1)).over(wa).cast("long").alias("n"),
        F.sum("y").over(wa).cast("long").alias("sy"),
    )
    mom = idx.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s00"),
        F.sum(F.when(F.col("y1").isNotNull(), F.col("y") * F.col("y1")))
        .cast("long")
        .alias("s01"),
        F.sum(F.when(F.col("y1").isNotNull(), F.col("y")))
        .cast("long")
        .alias("a1"),
        F.sum(F.when(F.col("y1").isNotNull(), F.col("y1")))
        .cast("long")
        .alias("b1"),
        F.sum(F.when(F.col("y2").isNotNull(), F.col("y") * F.col("y2")))
        .cast("long")
        .alias("s02"),
        F.sum(F.when(F.col("y2").isNotNull(), F.col("y")))
        .cast("long")
        .alias("a2"),
        F.sum(F.when(F.col("y2").isNotNull(), F.col("y2")))
        .cast("long")
        .alias("b2"),
        F.max(F.when(F.col("t") == F.col("n"), F.col("y"))).alias("ylast1"),
        F.max(F.when(F.col("t") == F.col("n") - 1, F.col("y"))).alias(
            "ylast2"
        ),
    )
    ybar = F.col("sy").cast("double") / F.col("n")
    cov = mom.select(
        "event_type",
        "n",
        "ylast1",
        "ylast2",
        ybar.alias("ybar"),
        (
            F.col("s00")
            - ybar * (F.col("sy") + F.col("sy"))
            + F.col("n") * ybar * ybar
        ).alias("c0"),
        (
            F.col("s01")
            - ybar * (F.col("a1") + F.col("b1"))
            + (F.col("n") - 1) * ybar * ybar
        ).alias("c1"),
        (
            F.col("s02")
            - ybar * (F.col("a2") + F.col("b2"))
            + (F.col("n") - 2) * ybar * ybar
        ).alias("c2"),
    )
    r1 = F.col("c1") / F.col("c0")
    r2 = F.col("c2") / F.col("c0")
    c = cov.select(
        "event_type",
        "n",
        "ybar",
        F.col("ylast1").cast("double").alias("ylast1"),
        F.col("ylast2").cast("double").alias("ylast2"),
        (r1 * (F.lit(1e0) - r2) / (F.lit(1e0) - r1 * r1)).alias("phi1"),
        ((r2 - r1 * r1) / (F.lit(1e0) - r1 * r1)).alias("phi2"),
    )
    cur = c
    prev2, prev1 = F.col("ylast2"), F.col("ylast1")
    for h in range(1, _AR2_H + 1):
        cur = cur.withColumn(
            f"yh{h}",
            F.col("ybar")
            + F.col("phi1") * (prev1 - F.col("ybar"))
            + F.col("phi2") * (prev2 - F.col("ybar")),
        )
        prev2 = prev1 if h == 1 else F.col(f"yh{h - 1}")
        prev1 = F.col(f"yh{h}")
    parts = [
        cur.select(
            "event_type",
            F.lit(h).cast("int").alias("h"),
            (F.floor(F.col(f"yh{h}") * 1e4 + F.lit(0.5)) / 1e4).alias(
                "forecast"
            ),
            (F.floor(F.col("phi1") * 1e6 + F.lit(0.5)) / 1e6).alias("phi1"),
            (F.floor(F.col("phi2") * 1e6 + F.lit(0.5)) / 1e6).alias("phi2"),
        )
        for h in range(1, _AR2_H + 1)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --- empirical quantile forecast ---------------------------------------------------


@register(
    "ml_quantile_forecast",
    tags=("ml", "forecast", "uncertainty"),
    oracle=f"""
    WITH {_DAILY_SPINE_SQL},
    rk AS (
      SELECT event_type, dow, n, day,
             ROW_NUMBER() OVER (PARTITION BY event_type, dow
                                ORDER BY n, day) AS r,
             COUNT(*) OVER (PARTITION BY event_type, dow) AS m
      FROM daily
    ),
    qs AS (
      SELECT event_type, dow,
             MAX(CASE WHEN r = CAST(CEIL(m * 0.1) AS BIGINT) THEN n END)
               AS p10,
             MAX(CASE WHEN r = CAST(CEIL(m * 0.5) AS BIGINT) THEN n END)
               AS p50,
             MAX(CASE WHEN r = CAST(CEIL(m * 0.9) AS BIGINT) THEN n END)
               AS p90,
             CAST(MAX(m) AS BIGINT) AS n_obs
      FROM rk GROUP BY 1, 2
    ),
    future AS (
      SELECT b.mx + CAST(i AS INT) AS day,
             CAST(dayofweek(b.mx + CAST(i AS INT)) + 1 AS INT) AS dow
      FROM bounds b,
           LATERAL (SELECT unnest(generate_series(1, {_HORIZON})) AS i) g
    )
    SELECT q.event_type, f.day, q.p10, q.p50, q.p90, q.n_obs
    FROM future f JOIN qs q ON q.dow = f.dow
    """,
)
def ml_quantile_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical quantile forecast: next week's per-type P10/P50/P90
    daily-volume bands from each weekday's observed distribution —
    rank-picked exact order statistics (ceil(m*q) under a total
    (value, day) order), the nonparametric uncertainty product next to
    the conformal tier (conformal bounds the point model's error; this
    forecasts the distribution itself, the M5-uncertainty protocol).
    All integers end to end — no rounding grid at all. One spine
    aggregate, one (type, dow) window, broadcast onto the generated
    future axis."""
    daily = _daily_spine(spark, sf_dir)
    wr = Window.partitionBy("event_type", "dow").orderBy("n", "day")
    wm = Window.partitionBy("event_type", "dow")
    rk = daily.select(
        "event_type",
        "dow",
        "n",
        F.row_number().over(wr).cast("long").alias("r"),
        F.count(F.lit(1)).over(wm).cast("long").alias("m"),
    )
    pick = lambda q: F.max(  # noqa: E731
        F.when(
            F.col("r") == F.ceil(F.col("m") * q).cast("long"), F.col("n")
        )
    )
    qs = rk.groupBy("event_type", "dow").agg(
        pick(0.1).alias("p10"),
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
        F.max("m").cast("long").alias("n_obs"),
    )
    bounds = daily.agg(F.max("day").alias("mx"))
    future = bounds.select(
        F.explode(
            F.sequence(F.date_add("mx", 1), F.date_add("mx", _HORIZON))
        ).alias("day")
    ).select("day", F.dayofweek("day").cast("int").alias("dow"))
    return future.join(F.broadcast(qs), "dow").select(
        "event_type", "day", "p10", "p50", "p90", "n_obs"
    )


# --- forecast combination ---------------------------------------------------------

_FC_TRAIN_MAX = 15   # t 0..15 train, 16..22 validation, 23..29 test
_FC_VAL_MAX = 22


@register(
    "ml_forecast_combination",
    tags=("ml", "forecast", "ensemble"),
    oracle=f"""
    WITH {_DAILY_SPINE_SQL},
    m_last AS (
      SELECT event_type, CAST(n AS DOUBLE) AS fc
      FROM daily WHERE t = {_FC_TRAIN_MAX}
    ),
    m_seas AS (
      SELECT event_type, dow, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS fc
      FROM daily WHERE t <= {_FC_TRAIN_MAX} GROUP BY 1, 2
    ),
    m_mean AS (
      SELECT event_type, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS fc
      FROM daily WHERE t <= {_FC_TRAIN_MAX} GROUP BY 1
    ),
    joined AS (
      SELECT d.event_type, d.t, d.n,
             ml.fc AS fl, ms.fc AS fs, mm.fc AS fm
      FROM daily d
      JOIN m_last ml ON ml.event_type = d.event_type
      JOIN m_seas ms ON ms.event_type = d.event_type AND ms.dow = d.dow
      JOIN m_mean mm ON mm.event_type = d.event_type
      WHERE d.t > {_FC_TRAIN_MAX}
    ),
    val AS (
      SELECT event_type,
             CAST(SUM(CAST(FLOOR(2.0 * ABS(fl - n) / (ABS(fl) + ABS(n))
                  * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS svl,
             CAST(SUM(CAST(FLOOR(2.0 * ABS(fs - n) / (ABS(fs) + ABS(n))
                  * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS svs,
             CAST(SUM(CAST(FLOOR(2.0 * ABS(fm - n) / (ABS(fm) + ABS(n))
                  * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS svm
      FROM joined WHERE t <= {_FC_VAL_MAX} GROUP BY 1
    ),
    wts AS (
      SELECT event_type,
             CAST(FLOOR(1e12 / (svl + 1)) AS BIGINT) AS wl,
             CAST(FLOOR(1e12 / (svs + 1)) AS BIGINT) AS ws,
             CAST(FLOOR(1e12 / (svm + 1)) AS BIGINT) AS wm,
             svl, svs, svm
      FROM val
    ),
    test AS (
      SELECT j.event_type, j.n,
             j.fl, j.fs, j.fm,
             (j.fl + j.fs + j.fm) / 3e0 AS fe,
             (w.wl * j.fl + w.ws * j.fs + w.wm * j.fm)
               / (w.wl + w.ws + w.wm) AS fw,
             w.svl, w.svs, w.svm
      FROM joined j JOIN wts w ON w.event_type = j.event_type
      WHERE j.t > {_FC_VAL_MAX}
    ),
    sm AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS nt,
             CAST(SUM(CAST(FLOOR(2.0 * ABS(fe - n) / (ABS(fe) + ABS(n))
                  * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS se,
             CAST(SUM(CAST(FLOOR(2.0 * ABS(fw - n) / (ABS(fw) + ABS(n))
                  * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sw,
             CAST(SUM(CAST(FLOOR(2.0 * ABS(fl - n) / (ABS(fl) + ABS(n))
                  * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sl,
             CAST(SUM(CAST(FLOOR(2.0 * ABS(fs - n) / (ABS(fs) + ABS(n))
                  * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ss,
             CAST(SUM(CAST(FLOOR(2.0 * ABS(fm - n) / (ABS(fm) + ABS(n))
                  * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS smn,
             MAX(svl) AS svl, MAX(svs) AS svs, MAX(svm) AS svm
      FROM test GROUP BY 1
    )
    SELECT event_type,
           FLOOR(CAST(se AS DOUBLE) / nt / 1e9 * 1e6 + 0.5) / 1e6
             AS smape_equal,
           FLOOR(CAST(sw AS DOUBLE) / nt / 1e9 * 1e6 + 0.5) / 1e6
             AS smape_weighted,
           FLOOR(CAST(LEAST(sl, ss, smn) AS DOUBLE) / nt / 1e9 * 1e6 + 0.5)
             / 1e6 AS smape_best_single,
           CASE WHEN sl <= ss AND sl <= smn THEN 'last'
                WHEN smn <= ss AND smn < sl THEN 'mean'
                ELSE 'seasonal' END AS best_single,
           CAST(LEAST(se, sw) < LEAST(sl, ss, smn) AS BOOLEAN)
             AS combo_beats_best
    FROM sm
    """,
)
def ml_forecast_combination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast combination per series: the three standing forecasters
    fit on days 0-15, inverse-SMAPE weights learned on the 16-22
    validation week, and both the equal-weight and weighted ensembles
    evaluated on the 23-29 test week against the best single model —
    the M4 lesson ("combinations beat constituents", Makridakis et al.
    2020) made measurable per series. Exactness: all SMAPE terms are
    the registry-standard 1e9-quantized BIGINT sums; combination
    weights are exact integers FLOOR(1e12/(sv+1)); the weighted
    forecast is one IEEE expression of integer weights and the shared
    model doubles; best-single ties break last < mean < seasonal
    exactly as ml_model_selection. Engine shape: spine aggregate, three
    broadcast model frames, two broadcast-joined scoring passes —
    schema-sized after the first aggregate."""
    daily = _daily_spine(spark, sf_dir)
    m_last = daily.filter(F.col("t") == _FC_TRAIN_MAX).select(
        "event_type", F.col("n").cast("double").alias("fl")
    )
    train = daily.filter(F.col("t") <= _FC_TRAIN_MAX)
    m_seas = train.groupBy("event_type", "dow").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("fs")
    )
    m_mean = train.groupBy("event_type").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("fm")
    )
    joined = (
        daily.filter(F.col("t") > _FC_TRAIN_MAX)
        .join(F.broadcast(m_last), "event_type")
        .join(F.broadcast(m_seas), ["event_type", "dow"])
        .join(F.broadcast(m_mean), "event_type")
    )

    def sterm(fc):
        y = F.col("n").cast("double")
        return F.floor(
            2.0 * F.abs(fc - y) / (F.abs(fc) + F.abs(y)) * 1e9 + F.lit(0.5)
        ).cast("long")

    val = joined.filter(F.col("t") <= _FC_VAL_MAX).groupBy("event_type").agg(
        F.sum(sterm(F.col("fl"))).cast("long").alias("svl"),
        F.sum(sterm(F.col("fs"))).cast("long").alias("svs"),
        F.sum(sterm(F.col("fm"))).cast("long").alias("svm"),
    )
    wts = val.select(
        "event_type",
        F.floor(1e12 / (F.col("svl") + 1)).cast("long").alias("wl"),
        F.floor(1e12 / (F.col("svs") + 1)).cast("long").alias("ws"),
        F.floor(1e12 / (F.col("svm") + 1)).cast("long").alias("wm"),
    )
    test = joined.filter(F.col("t") > _FC_VAL_MAX).join(
        F.broadcast(wts), "event_type"
    )
    fe = (F.col("fl") + F.col("fs") + F.col("fm")) / F.lit(3e0)
    fw = (
        F.col("wl") * F.col("fl")
        + F.col("ws") * F.col("fs")
        + F.col("wm") * F.col("fm")
    ) / (F.col("wl") + F.col("ws") + F.col("wm"))
    sm = test.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nt"),
        F.sum(sterm(fe)).cast("long").alias("se"),
        F.sum(sterm(fw)).cast("long").alias("sw"),
        F.sum(sterm(F.col("fl"))).cast("long").alias("sl"),
        F.sum(sterm(F.col("fs"))).cast("long").alias("ss"),
        F.sum(sterm(F.col("fm"))).cast("long").alias("smn"),
    )
    out6 = lambda s: F.floor(  # noqa: E731
        s.cast("double") / F.col("nt") / 1e9 * 1e6 + F.lit(0.5)
    ) / 1e6
    best_q = F.least("sl", "ss", "smn")
    return sm.select(
        "event_type",
        out6(F.col("se")).alias("smape_equal"),
        out6(F.col("sw")).alias("smape_weighted"),
        out6(best_q).alias("smape_best_single"),
        F.when(
            (F.col("sl") <= F.col("ss")) & (F.col("sl") <= F.col("smn")),
            F.lit("last"),
        )
        .when(
            (F.col("smn") <= F.col("ss")) & (F.col("smn") < F.col("sl")),
            F.lit("mean"),
        )
        .otherwise(F.lit("seasonal"))
        .alias("best_single"),
        (F.least("se", "sw") < best_q).alias("combo_beats_best"),
    )
