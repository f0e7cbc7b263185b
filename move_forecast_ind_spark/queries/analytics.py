"""Time-series, sequence-mining, and data-quality operators (round-4 widening).

Capabilities a production analytics engine layers over the event stream and
the relational lake, beyond the reference's surface (the reference —
satya-dataengineer/move-forecast-IND — has no time-series resampling, data-
quality auditing, or spatial joins; these implement the engine-completeness
mandate):

- time-series: gap-filled daily resampling onto a dense calendar grid,
  10-lag EWMA smoothing, OHLC candle bars, inter-arrival distributions,
  rolling least-squares trend slopes;
- sequence mining: top-k event trigrams, gaps-and-islands activity streaks;
- data quality: referential-integrity orphan audit, key-uniqueness audit,
  declarative constraint (domain/range/cross-table) violation counts —
  the Great-Expectations/Delta-constraints staple as plain aggregates;
- spatial: grid-bucketed point-in-rectangle join (the scale-safe spatial
  equi-join that replaces an all-pairs cross product).

All hot paths are built-in column expressions inside whole-stage codegen;
every double that reaches the output is rounded through
``functions.rounding`` on BOTH engines so aggregation-order ulp noise can't
flip the oracle's value hash.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.percentiles import group_percentiles
from ..functions.rounding import r2, r4, r6, sql_double, sql_r2, sql_r4, sql_r6
from ..sources import load_table
from .registry import fmt_doc, register
from ..operators.dedup import fanout
from ..operators.materialize import materialize
from ..operators.graph import (
    TIGHT_BUCKET_S,
    coactivity_adjacency,
    coactivity_cte,
    coactivity_pairs,
    coactivity_sliced,
    iterate,
    vertex_array,
)

# --- time-series: dense-grid resampling -------------------------------------


@register(
    "ts_resample_gapfill",
    tags=("timeseries", "events", "gapfill"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS n_events,
             {sql_r2('sum(value)')} AS sum_value
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type,
             b.lo + CAST(unnest(generate_series(0, b.hi - b.lo)) AS INTEGER)
               AS day
      FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN b
    )
    SELECT g.event_type, g.day,
           CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
           COALESCE(d.sum_value, 0e0) AS sum_value
    FROM grid g LEFT JOIN daily d USING (event_type, day)
    """,
)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the event stream to a DENSE daily grid per event type: days
    with no events appear with explicit zeros instead of silently missing —
    the prerequisite for any downstream forecasting / moving-average pass
    (a rolling window over a sparse axis silently shrinks its denominator).

    Spark-first: one grouped aggregate for the sparse dailies, a 1-row
    min/max bounds aggregate cross-joined onto the distinct type dimension,
    `sequence()`+`explode` for the calendar axis, then a left join that
    broadcasts the aggregated dailies (grid and dailies are both
    dimension-sized: types × days). At 100 TB the only full-data pass is
    the daily aggregate — one shuffle with map-side partials; the grid is
    O(types × days) regardless of fact volume."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    daily = ev.groupBy("event_type", day).agg(
        F.count(F.lit(1)).alias("n_events"),
        r2(F.sum("value")).alias("sum_value"),
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            "lo",
            F.explode(F.sequence(F.lit(0), F.datediff("hi", "lo"))).alias("off"),
        )
        .select("event_type", F.date_add("lo", F.col("off")).alias("day"))
    )
    return grid.join(F.broadcast(daily), ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


# --- time-series: EWMA smoothing --------------------------------------------

_EWMA_DECAY = 0.6  # (1 - alpha) for alpha = 0.4
_EWMA_LAGS = 10  # truncation horizon: 0.6^10 ≈ 0.006 residual weight


def _ewma_sql() -> str:
    # Weight literals are emitted via repr(decay**j) so BOTH engines parse
    # the exact same IEEE double — power(0.6, j) could differ in the last
    # ulp from Python's compile-time product.
    num = " + ".join(
        f"COALESCE(lag(value, {j}) OVER w, 0e0) * {0.6 ** j!r}"
        for j in range(_EWMA_LAGS)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {j}) OVER w IS NOT NULL THEN {0.6 ** j!r} ELSE 0e0 END"
        for j in range(_EWMA_LAGS)
    )
    return f"""
    SELECT event_id, user_id, value,
           {sql_r6(f'({num}) / ({den})')} AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {_EWMA_LAGS - 1} PRECEDING AND CURRENT ROW)
    """


@register(
    "ts_ewma_smooth",
    tags=("timeseries", "events", "window"),
    oracle=_ewma_sql(),
)
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's measurement
    stream (alpha = 0.4), truncated at 10 lags (residual weight < 1%) and
    re-normalized over the weights actually present so the series start is
    unbiased instead of damped toward zero.

    The recursive EWMA definition is not window-expressible, but the
    truncated form is a fixed linear combination of ``lag(value, j)`` —
    ten lag terms inside ONE window spec, which Spark evaluates in a single
    pass over each partition (one shuffle on user_id, no UDF, no loop).
    Weight literals are emitted via ``repr`` so both engines parse
    bit-identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(_EWMA_LAGS):
        lj = F.lag("value", j).over(w) if j else F.col("value")
        wt = _EWMA_DECAY**j
        num = num + F.coalesce(lj, F.lit(0.0)) * F.lit(wt)
        den = den + F.when(lj.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return ev.select(
        "event_id", "user_id", "value", r6(num / den).alias("ewma")
    )


# --- time-series: OHLC bars -------------------------------------------------


@register(
    "ts_ohlc_daily",
    tags=("timeseries", "events", "aggregate"),
    oracle=f"""
    WITH seq AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value,
             row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_type, day,
           min_by(value, rn) AS open,
           max(value) AS high,
           min(value) AS low,
           max_by(value, rn) AS close,
           count(*) AS n_events,
           {sql_r2('sum(value)')} AS volume
    FROM seq GROUP BY event_type, day
    """,
)
def ts_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars per (event_type, day): open/close are the first/last
    measurement in event-time order (event_id tiebreak makes the order — and
    therefore min_by/max_by — total), high/low/volume are plain extrema and
    sums. The financial-downsampling staple, expressed as one window pass
    for the within-day sequence number plus one grouped aggregate.

    100 TB: the window and the aggregate share the same (event_type, day)
    partitioning, so Catalyst plans ONE exchange; frame state is a counter
    and six scalars."""
    ev = load_table(spark, sf_dir, "events")
    # project `day` BEFORE the window so the window's partition key and the
    # aggregate's group key are the same attribute — otherwise Catalyst
    # treats cast(ts as date) in the window spec as a fresh expression and
    # plans a second exchange
    base = ev.select(
        "event_type", F.to_date("ts").alias("day"), "value", "ts", "event_id"
    )
    seq = base.select(
        "event_type",
        "day",
        "value",
        F.row_number()
        .over(Window.partitionBy("event_type", "day").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    return seq.groupBy("event_type", "day").agg(
        F.min_by("value", "rn").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "rn").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        r2(F.sum("value")).alias("volume"),
    )


# --- time-series: inter-arrival distribution --------------------------------


@register(
    "ts_interarrival_stats",
    tags=("timeseries", "events", "percentile"),
    oracle=f"""
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY event_type ORDER BY ts, event_id)) / 1e6 AS gap_s
      FROM events
    )
    SELECT event_type,
           count(gap_s) AS n_gaps,
           {sql_r2('avg(gap_s)')} AS avg_gap_s,
           {sql_r2('quantile_cont(gap_s, 0.5)')} AS p50_gap_s,
           {sql_r2('quantile_cont(gap_s, 0.95)')} AS p95_gap_s,
           {sql_r2('max(gap_s)')} AS max_gap_s
    FROM gaps GROUP BY event_type
    """,
)
def ts_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: mean / median / p95 /
    max gap between consecutive events, the first thing an on-call engineer
    asks of a pipeline's event stream ("did ingestion stall?").

    Gaps come from one LAG over the event-time order (epoch microseconds are
    exact in doubles, so both engines compute identical gap values); the
    percentiles are EXACT linear-interpolated (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont`` — same formula), which the r2 rounding then makes
    hash-stable. 100 TB: one shuffle on event_type for the window; the exact
    percentile holds a per-group value buffer, so at extreme cardinality
    swap in approx_percentile (the sketch twin already registered as
    ``a_approx_percentile``)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)) / 1e6
        ).alias("gap_s"),
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        r2(F.avg("gap_s")).alias("avg_gap_s"),
        r2(F.expr("percentile(gap_s, 0.5)")).alias("p50_gap_s"),
        r2(F.expr("percentile(gap_s, 0.95)")).alias("p95_gap_s"),
        r2(F.max("gap_s")).alias("max_gap_s"),
    )


# --- sequence mining: top event trigrams ------------------------------------


@register(
    "events_top_sequences",
    tags=("events", "sequence", "window"),
    oracle="""
    WITH tri AS (
      SELECT event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS seq
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT seq, count(*) AS n_occurrences
    FROM tri WHERE seq IS NOT NULL
    GROUP BY seq
    ORDER BY n_occurrences DESC, seq
    LIMIT 10
    """,
)
def events_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 within-user event-type trigrams (A>B>C), the sequential-
    pattern-mining primitive behind funnel discovery and next-action
    models. Two LEADs over the per-user event-time order build the
    trigram in place (no self-joins — the classic SQL formulation joins
    the stream to itself twice); partition bounds make sequences stop at
    user boundaries. Count ties break lexicographically so the top-10 cut
    is deterministic. 100 TB: one shuffle on user_id, then a trigram-
    cardinality aggregate (≤ |types|³ keys) and a tiny TakeOrdered."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("seq"),
        F.lead("event_type", 2).over(w).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    return (
        tri.groupBy("seq")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "seq")
        .limit(10)
    )


# --- gaps and islands: activity streaks -------------------------------------


@register(
    "w_gaps_islands",
    tags=("window", "events", "streaks"),
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    anchored AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER
               (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      FROM days
    ),
    islands AS (
      SELECT user_id, anchor, count(*) AS streak
      FROM anchored GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(sum(streak) AS BIGINT) AS n_active_days,
           count(*) AS n_islands,
           CAST(max(streak) AS BIGINT) AS max_streak_days
    FROM islands GROUP BY user_id
    """,
)
def w_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's consecutive-day activity streaks. The
    classic anchor trick — ``day - row_number()`` is constant within a run
    of consecutive days — turns streak detection into two grouped
    aggregates around one window, with no self-join and no iteration.
    Output: active days, number of islands, and the longest streak per
    user. 100 TB: everything after the DISTINCT is user-cardinality;
    the distinct, the window, and both aggregates all partition by
    user_id, so Catalyst plans a single exchange."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    anchored = days.select(
        "user_id",
        F.date_sub(
            "day",
            F.row_number().over(Window.partitionBy("user_id").orderBy("day")),
        ).alias("anchor"),
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak")
    )
    return islands.groupBy("user_id").agg(
        F.sum("streak").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_islands"),
        F.max("streak").alias("max_streak_days"),
    )


# --- rolling least-squares trend slope --------------------------------------


@register(
    "w_rolling_slope",
    tags=("window", "events", "regression"),
    oracle=f"""
    WITH seq AS (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    frames AS (
      SELECT event_id, user_id,
             count(*) OVER w AS n_win,
             CAST(sum(rn) OVER w AS DOUBLE) AS sx,
             sum(value) OVER w AS sy,
             sum(rn * value) OVER w AS sxy,
             CAST(sum(rn * rn) OVER w AS DOUBLE) AS sxx
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, CAST(n_win AS INT) AS n_win,
           CASE WHEN n_win >= 5 THEN
             {sql_r6('(n_win * sxy - sx * sy) / (n_win * sxx - sx * sx)')}
           END AS slope
    FROM frames
    """,
)
def w_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling least-squares trend slope: each measurement's 10-event local
    trend, regressing value against the within-user sequence number. The
    trend-detection primitive behind "is this metric drifting?" alerts.

    Instead of calling an engine-specific ``regr_slope`` window aggregate,
    the slope is derived from four frame sums (Σx, Σy, Σxy, Σx²) — x is the
    integer row number, so three of the four sums are integer-exact and the
    formula evaluates bit-identically on both engines. Cold-start rows
    (fewer than 5 points) emit NULL instead of a garbage slope. 100 TB: one
    shuffle on user_id; both windows share the same partitioning + ordering,
    so Catalyst plans them in a single Window node."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_id",
        "user_id",
        "value",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    w = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-9, 0)
    frames = seq.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum("rn").over(w).cast("double").alias("sx"),
        F.sum("value").over(w).alias("sy"),
        F.sum(F.col("rn") * F.col("value")).over(w).alias("sxy"),
        F.sum(F.col("rn") * F.col("rn")).over(w).cast("double").alias("sxx"),
    )
    n = F.col("n_win")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return frames.select(
        "event_id",
        "user_id",
        n.cast("int").alias("n_win"),
        F.when(n >= 5, r6(slope)).alias("slope"),
    )


# --- data quality: referential integrity ------------------------------------

_REL_CHECKS = (
    # (name, child table, child key cols, parent table, parent key cols)
    ("lineitem->orders", "lineitem", ("l_orderkey",), "orders", ("o_orderkey",)),
    ("lineitem->part", "lineitem", ("l_partkey",), "part", ("p_partkey",)),
    ("lineitem->supplier", "lineitem", ("l_suppkey",), "supplier", ("s_suppkey",)),
    ("orders->customer", "orders", ("o_custkey",), "customer", ("c_custkey",)),
    ("events->customer", "events", ("user_id",), "customer", ("c_custkey",)),
)


def _rel_oracle() -> str:
    parts = []
    for name, child, ckeys, parent, pkeys in _REL_CHECKS:
        on = " AND ".join(f"c.{a} = p.{b}" for a, b in zip(ckeys, pkeys))
        pk = ", ".join(pkeys)
        parts.append(
            f"""
            SELECT '{name}' AS relationship,
                   count(*) AS n_rows,
                   count(*) FILTER (WHERE p.{pkeys[0]} IS NULL) AS n_orphans
            FROM {child} c
            LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON {on}
            """
        )
    return " UNION ALL ".join(parts)


@register(
    "dq_referential_orphans",
    tags=("dq", "join", "audit"),
    oracle=_rel_oracle(),
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every declared foreign-key
    relationship in the lake, how many child rows point at a parent that
    does not exist. The first gate of any ingest pipeline — silent orphans
    turn downstream inner joins into silent row loss.

    Each relationship is one left join against the parent's distinct key
    set plus a two-counter aggregate; the five audits union into a single
    5-row report, so the whole check is one job. No broadcast hints: at
    100 TB the parent key sets are not dimension-sized, and AQE picks
    broadcast exactly when a parent fits."""
    tables = {t: load_table(spark, sf_dir, t)
              for t in ("lineitem", "orders", "part", "supplier", "customer",
                        "events")}
    reports = []
    for name, child, ckeys, parent, pkeys in _REL_CHECKS:
        p = (
            tables[parent]
            .select(*[F.col(b).alias(a) for a, b in zip(ckeys, pkeys)])
            .distinct()
            .withColumn("_present", F.lit(1))
        )
        joined = tables[child].select(*ckeys).join(p, list(ckeys), "left")
        reports.append(
            joined.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("_present").isNull(), 1)).alias(
                    "n_orphans"
                ),
            ).select(
                F.lit(name).alias("relationship"), "n_rows", "n_orphans"
            )
        )
    return reduce(DataFrame.unionByName, reports)


# --- data quality: key uniqueness -------------------------------------------

_KEY_CHECKS = (
    ("orders.o_orderkey", "orders", ("o_orderkey",)),
    ("customer.c_custkey", "customer", ("c_custkey",)),
    ("part.p_partkey", "part", ("p_partkey",)),
    ("supplier.s_suppkey", "supplier", ("s_suppkey",)),
    ("lineitem.(l_orderkey,l_linenumber)", "lineitem",
     ("l_orderkey", "l_linenumber")),
    ("events.event_id", "events", ("event_id",)),
    ("documents.doc_id", "documents", ("doc_id",)),
    ("embeddings.vec_id", "embeddings", ("vec_id",)),
)


def _uniq_oracle() -> str:
    parts = []
    for name, table, keys in _KEY_CHECKS:
        kl = ", ".join(keys)
        parts.append(
            f"""
            SELECT '{name}' AS key_name,
                   CAST(sum(c) AS BIGINT) AS n_rows,
                   count(*) AS n_keys,
                   CAST(sum(c) - count(*) AS BIGINT) AS n_dup_rows,
                   CAST(max(c) AS BIGINT) AS max_multiplicity
            FROM (SELECT count(*) AS c FROM {table} GROUP BY {kl})
            """
        )
    return " UNION ALL ".join(parts)


@register(
    "dq_uniqueness_audit",
    tags=("dq", "aggregate", "audit"),
    oracle=_uniq_oracle(),
)
def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-uniqueness audit: for every declared primary/natural key, the row
    count, distinct-key count, duplicate-row count, and worst per-key
    multiplicity. (The fixture's lineitem intentionally carries duplicate
    (l_orderkey, l_linenumber) rows, so this audit reports real findings,
    not a wall of zeros.)

    Per key: a grouped count followed by a 1-row summary aggregate — the
    duplicate count falls out as Σc − |keys| with no distinct-count pass.
    100 TB: each audit is one map-side-partial shuffle on its key; the
    eight audits are independent jobs unioned into an 8-row report."""
    reports = []
    for name, table, keys in _KEY_CHECKS:
        per = (
            load_table(spark, sf_dir, table)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        reports.append(
            per.agg(
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("c").alias("max_multiplicity"),
            ).select(
                F.lit(name).alias("key_name"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("n_keys")).alias("n_dup_rows"),
                "max_multiplicity",
            )
        )
    return reduce(DataFrame.unionByName, reports)


# --- data quality: declarative constraints ----------------------------------

# (rule name, table, SQL predicate that is TRUE when the row VIOLATES).
# NULLs count as violations (coalesce) — a constraint a row can dodge by
# being NULL isn't a constraint.
_ROW_RULES = (
    ("lineitem.quantity_in_1_50", "lineitem",
     "NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)"),
    ("lineitem.discount_in_0_0.1", "lineitem",
     "NOT COALESCE(l_discount BETWEEN 0e0 AND 0.1e0, FALSE)"),
    ("orders.status_in_domain", "orders",
     "NOT COALESCE(o_orderstatus IN ('O', 'F', 'P'), FALSE)"),
    ("documents.n_chars_matches_text", "documents",
     "NOT COALESCE(n_chars = length(text), FALSE)"),
    ("documents.lang_in_domain", "documents",
     "NOT COALESCE(lang IN ('en', 'de', 'fr', 'es', 'zh'), FALSE)"),
    ("events.value_positive", "events",
     "NOT COALESCE(value > 0e0, FALSE)"),
)

_SHIP_RULE_PRED = (
    "l_shipdate < o_orderdate OR l_shipdate > o_orderdate + INTERVAL '400' DAY"
)


def _rules_oracle() -> str:
    parts = [
        f"""
        SELECT '{name}' AS rule,
               count(*) AS n_checked,
               count(*) FILTER (WHERE {pred}) AS n_violations
        FROM {table}
        """
        for name, table, pred in _ROW_RULES
    ]
    parts.append(
        f"""
        SELECT 'lineitem.ship_within_400d_of_order' AS rule,
               count(*) AS n_checked,
               count(*) FILTER (WHERE {_SHIP_RULE_PRED}) AS n_violations
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        """
    )
    return " UNION ALL ".join(parts)


@register(
    "dq_constraint_violations",
    tags=("dq", "aggregate", "audit"),
    oracle=_rules_oracle(),
)
def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraints (the Delta CHECK / Great
    Expectations staple) evaluated as plain aggregates: range rules, domain
    rules, an internal-consistency rule, and one cross-table temporal rule
    (line items must ship within [order date, +400 days] — the fixture
    violates this en masse, so the report carries real signal).

    Each rule is a predicate counted in one pass over its table; the
    cross-table rule joins lineitem to orders on the order key first. NULL
    never satisfies a constraint (explicit COALESCE). 100 TB: single-table
    rules over the same table share one scan each; the report is seven
    rows."""
    reports = []
    for name, table, pred in _ROW_RULES:
        df = load_table(spark, sf_dir, table)
        reports.append(
            df.agg(
                F.count(F.lit(1)).alias("n_checked"),
                F.count(F.when(F.expr(pred), 1)).alias("n_violations"),
            ).select(F.lit(name).alias("rule"), "n_checked", "n_violations")
        )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    reports.append(
        joined.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.count(F.when(F.expr(_SHIP_RULE_PRED), 1)).alias("n_violations"),
        ).select(
            F.lit("lineitem.ship_within_400d_of_order").alias("rule"),
            "n_checked",
            "n_violations",
        )
    )
    return reduce(DataFrame.unionByName, reports)


# --- spatial: grid-bucketed point-in-rectangle join -------------------------

_CELL = 10  # grid cell edge; rectangles are 15x15 so each covers ≤ 9 cells


@register(
    "j_grid_spatial_join",
    tags=("join", "spatial", "grid"),
    oracle="""
    WITH pts AS (
      SELECT event_id,
             (event_id * 37 % 1000) / 10.0 AS x,
             (event_id * 91 % 1000) / 10.0 AS y
      FROM events
    ),
    rects AS (
      SELECT n_nationkey,
             CAST(n_nationkey * 7 % 80 AS DOUBLE) AS x0,
             CAST(n_nationkey * 13 % 80 AS DOUBLE) AS y0
      FROM nation
    ),
    hits AS (
      SELECT r.n_nationkey, count(*) AS n_points
      FROM pts p JOIN rects r
        ON p.x >= r.x0 AND p.x < r.x0 + 15 AND p.y >= r.y0 AND p.y < r.y0 + 15
      GROUP BY r.n_nationkey
    )
    SELECT r.n_nationkey, r.x0, r.y0,
           CAST(COALESCE(h.n_points, 0) AS BIGINT) AS n_points
    FROM rects r LEFT JOIN hits h USING (n_nationkey)
    """,
)
def j_grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial join: count the points inside each query
    rectangle. Points are synthesized deterministically from event ids,
    rectangles (15×15, half-open) from nation keys — the operator under
    test is the JOIN STRATEGY: instead of the naive points × rectangles
    cross product, rectangles explode to the ≤9 grid cells they overlap
    and each point computes its single containing cell, turning the
    spatial predicate into a cell equi-join plus an exact refine filter.
    Each point lives in exactly one cell, so a (point, rect) pair can
    match at most once — no post-join dedup.

    100 TB: the point side never shuffles wide — it maps to (cell, point)
    and joins against the broadcast cell-exploded rectangle dimension;
    the oracle's cross-product formulation is the semantics, not the
    plan. Cell size trades replication (rect copies) against refine
    selectivity, the standard grid-file knob."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 37 % 1000) / 10.0).alias("x"),
        ((F.col("event_id") * 91 % 1000) / 10.0).alias("y"),
    ).select(
        "event_id",
        "x",
        "y",
        F.floor(F.col("x") / _CELL).cast("int").alias("cx"),
        F.floor(F.col("y") / _CELL).cast("int").alias("cy"),
    )
    rects = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") * 7 % 80).cast("double").alias("x0"),
        (F.col("n_nationkey") * 13 % 80).cast("double").alias("y0"),
    )
    cells = (
        rects.select(
            "n_nationkey",
            "x0",
            "y0",
            F.explode(
                F.sequence(
                    F.floor(F.col("x0") / _CELL).cast("int"),
                    F.floor((F.col("x0") + 15) / _CELL).cast("int"),
                )
            ).alias("cx"),
        )
        .select(
            "n_nationkey",
            "x0",
            "y0",
            "cx",
            F.explode(
                F.sequence(
                    F.floor(F.col("y0") / _CELL).cast("int"),
                    F.floor((F.col("y0") + 15) / _CELL).cast("int"),
                )
            ).alias("cy"),
        )
    )
    hits = (
        pts.join(F.broadcast(cells), ["cx", "cy"])
        .filter(
            (F.col("x") >= F.col("x0"))
            & (F.col("x") < F.col("x0") + 15)
            & (F.col("y") >= F.col("y0"))
            & (F.col("y") < F.col("y0") + 15)
        )
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    return rects.join(F.broadcast(hits), ["n_nationkey"], "left").select(
        "n_nationkey",
        "x0",
        "y0",
        F.coalesce("n_points", F.lit(0)).alias("n_points"),
    )


# --- URL canonicalization + dedup -------------------------------------------

_URL_HOSTPATH = r"^([a-zA-Z]+://[^/]+)(.*)$"


@register(
    "corpus_url_canonical_dedup",
    tags=("corpus", "dedup", "url"),
    oracle=f"""
    WITH urls AS (
      SELECT doc_id,
             'HTTPS://WWW.Example.COM/' || lang
               || '/article/' || CAST(doc_id % 83 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                    THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                    ELSE '' END
               || CASE WHEN doc_id % 4 = 0 THEN '#sec2' ELSE '' END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(
               lower(regexp_extract(stripped, '{_URL_HOSTPATH}', 1))
                 || regexp_extract(stripped, '{_URL_HOSTPATH}', 2),
               '://www\\.', '://') AS canon_url
      FROM (
        SELECT doc_id,
               regexp_replace(regexp_replace(url, '#.*$', ''), '\\?.*$', '')
                 AS stripped
        FROM urls
      )
    )
    SELECT canon_url,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           count(*) AS n_variants
    FROM canon GROUP BY canon_url
    """,
)
def corpus_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup — the FIRST pass of every web
    corpus pipeline (Common-Crawl-style dedup starts at the URL, before any
    content hashing). URLs are synthesized deterministically from fixture
    columns with realistic mess (mixed-case scheme/host, www prefix,
    tracking query params, fragments) and a syndication-style shared
    article id (mod-83) so distinct docs really do collapse to one
    canonical URL; canonicalization lowercases ONLY the
    scheme+host (paths are case-sensitive per RFC 3986), strips query +
    fragment, and drops the www prefix. Documents sharing a canonical URL
    collapse to the min-doc_id keeper.

    100 TB: pure map expressions (two regexp_replace, two regexp_extract)
    into one grouped aggregate on the canonical key — one shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Example.COM/"),
        F.col("lang"), F.lit("/article/"),
        (F.col("doc_id") % 83).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("?utm_source=feed&ref="),
                     F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    stripped = F.regexp_replace(
        F.regexp_replace(url, r"#.*$", ""), r"\?.*$", ""
    )
    canon = F.regexp_replace(
        F.concat(
            F.lower(F.regexp_extract(stripped, _URL_HOSTPATH, 1)),
            F.regexp_extract(stripped, _URL_HOSTPATH, 2),
        ),
        r"://www\.",
        "://",
    )
    return (
        docs.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# --- weighted median --------------------------------------------------------


@register(
    "a_weighted_median",
    tags=("aggregate", "percentile", "lineitem"),
    oracle=f"""
    WITH cum AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             sum(l_quantity) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag,
           {sql_r2('min(l_extendedprice)')} AS weighted_median_price,
           {sql_r2('min(tw)')} AS total_weight
    FROM cum
    WHERE cw >= tw / 2e0
    GROUP BY l_returnflag
    """,
)
def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted median extended price per return
    flag) — an aggregate NEITHER engine ships natively, built portably from
    a running-weight window: the weighted median is the first value whose
    cumulative weight crosses half the group total. The window order is made
    total (price, then primary key) so the cumulative sums are deterministic
    on both engines; quantities are small integers in doubles, so the
    running sums are exact.

    100 TB: one shuffle on the group key; both window specs share the same
    partitioning so Catalyst plans one sort. For extreme groups, swap in the
    approx-percentile sketch twin."""
    li = load_table(spark, sf_dir, "lineitem")
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(wcum).alias("cw"),
        F.sum("l_quantity").over(wtot).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") >= F.col("tw") / 2.0)
        .groupBy("l_returnflag")
        .agg(
            r2(F.min("l_extendedprice")).alias("weighted_median_price"),
            r2(F.min("tw")).alias("total_weight"),
        )
    )


# --- portable mode (most-frequent value with explicit tie-break) ------------


@register(
    "a_mode_per_group",
    tags=("aggregate", "mode", "orders"),
    oracle="""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    ranked AS (
      SELECT o_orderstatus, o_orderpriority, n,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rk
      FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_occurrences
    FROM ranked WHERE rk = 1
    """,
)
def a_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with an EXPLICIT tie-break (count desc, then value
    asc). Both engines ship a native ``mode()`` whose tie behavior is
    unspecified/implementation-defined — a hash-order landmine for any
    pipeline that feeds the mode into a join key — so the portable
    formulation is a grouped count plus a row_number cut, which pins the
    answer on every engine. 100 TB: the count aggregate shuffles on the
    (group, value) pair; the window runs on group-cardinality rows."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    ranked = counts.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("o_orderstatus").orderBy(
                F.desc("n"), "o_orderpriority"
            )
        ),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "o_orderstatus",
        F.col("o_orderpriority").alias("mode_priority"),
        F.col("n").alias("n_occurrences"),
    )


# --- incremental view maintenance: mergeable aggregate states ---------------

_IVM_SPLIT = "DATE '2024-06-01'"  # base/delta ingestion boundary


@register(
    "s_incremental_agg_merge",
    tags=("sink", "ivm", "aggregate"),
    oracle=f"""
    SELECT CAST(month(o_orderdate) AS INT) AS month,
           count(*) AS n_orders,
           {sql_r2('sum(o_totalprice)')} AS sum_total
    FROM orders GROUP BY 1
    """,
)
def s_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a monthly revenue rollup: the
    already-materialized BASE aggregate (orders before the ingestion
    boundary) merges with the fresh DELTA batch's partial aggregate by
    combining mergeable states — counts add, sums add — instead of
    rescanning history. The oracle is the full recompute over all rows;
    hash-equality of merge vs recompute IS the IVM correctness statement.

    100 TB: this is THE pattern that replaces the reference's nightly full
    re-aggregation (reference precompute_percentages.py recomputes every
    combination from scratch) — each ingestion batch shuffles only its own
    rows, and the merge is group-cardinality work. SUM/COUNT/MIN/MAX merge
    losslessly; AVG ships as (sum, count); medians need a sketch."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.month("o_orderdate").cast("int").alias("month")
    split = F.expr(_IVM_SPLIT)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("sum_total"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < split))
    delta = partial(orders.filter(F.col("o_orderdate") >= split))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            r2(F.sum("sum_total")).alias("sum_total"),
        )
    )


# --- matryoshka-style embedding prefix energy -------------------------------

_PREFIX_KS = (8, 16, 32, 64)


def _prefix_energy_oracle() -> str:
    branches = " UNION ALL ".join(
        f"""
        SELECT label, {k} AS k,
               list_sum(list_transform(embedding[1:{k}],
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
               / list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS frac
        FROM embeddings
        """
        for k in _PREFIX_KS
    )
    return f"""
    SELECT label, k, {sql_r6('avg(frac)')} AS avg_energy_frac
    FROM ({branches}) GROUP BY label, k
    """


@register(
    "emb_prefix_energy",
    tags=("embedding", "matryoshka", "aggregate"),
    oracle=_prefix_energy_oracle(),
)
def emb_prefix_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation profile: what fraction of each
    embedding's energy (squared L2 mass) survives truncation to the first
    k ∈ {8, 16, 32, 64} dimensions, averaged per label. The measurement
    that decides how far a matryoshka-trained embedding column can be
    truncated for cheap ANN prefiltering before full-dimension re-ranking.

    One pass: per row, four prefix sums of squares over the array (pure
    `slice`+`transform`+`aggregate` column expressions — no explode, no
    UDF), then a grouped average per (label, k). Elements are cast
    float→double BEFORE squaring on both engines so the arithmetic
    matches. 100 TB: map-side work plus a (labels × 4)-key aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")

    def ssq(col):  # sum of squares in double, left-to-right fold
        return F.aggregate(
            F.transform(col, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )

    full = ssq(F.col("embedding"))
    rows = emb.select(
        "label",
        *[
            (ssq(F.slice("embedding", 1, k)) / full).alias(f"frac_{k}")
            for k in _PREFIX_KS
        ],
    )
    unioned = reduce(
        DataFrame.unionByName,
        [
            rows.select(
                "label",
                F.lit(k).alias("k"),
                F.col(f"frac_{k}").alias("frac"),
            )
            for k in _PREFIX_KS
        ],
    )
    return unioned.groupBy("label", "k").agg(
        r6(F.avg("frac")).alias("avg_energy_frac")
    )


# --- PCA: dominant principal component via integer-exact power iteration ----

_PCA_D = 64  # embedding dimensionality (fixture contract)
_PCA_ITERS = 12
_PCA_SCALE = 1_000_000  # fixed-point grid for the iteration state


def _pca_oracle() -> str:
    """Unrolled power iteration as chained CTEs. The iteration state is
    INTEGER fixed-point (×1e6): integer sums are order-independent, so both
    engines walk bit-identical vectors — the only doubles are the covariance
    quantization (grid absorbs engine sum-order noise) and the per-iteration
    normalize, which is a single IEEE divide+floor both engines round
    identically."""
    d, s = _PCA_D, _PCA_SCALE
    parts = [
        f"""
    WITH mu AS MATERIALIZED (
      SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS m
      FROM embeddings CROSS JOIN range(1, {d + 1}) r(i) GROUP BY i
    ),
    xx AS MATERIALIZED (
      SELECT i, j,
             sum(CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))
               / count(*) AS xx
      FROM embeddings
      CROSS JOIN range(1, {d + 1}) r1(i) CROSS JOIN range(1, {d + 1}) r2(j)
      GROUP BY i, j
    ),
    cq AS MATERIALIZED (
      SELECT xx.i, xx.j,
             CAST(FLOOR((xx.xx - a.m * b.m) * 1e6 + 0.5) AS BIGINT) AS c
      FROM xx JOIN mu a ON xx.i = a.i JOIN mu b ON xx.j = b.i
    ),
    v0 AS (
      SELECT i, CASE WHEN i = 1 THEN {s} ELSE 0 END AS v
      FROM range(1, {d + 1}) r(i)
    )"""
    ]
    for t in range(1, _PCA_ITERS + 1):
        parts.append(
            f""",
    w{t} AS MATERIALIZED (
      SELECT c.i, CAST(sum(c.c * v.v) AS BIGINT) AS w
      FROM cq c JOIN v{t - 1} v ON c.j = v.i GROUP BY c.i
    ),
    v{t} AS MATERIALIZED (
      SELECT w.i,
             CAST(FLOOR(CAST(w.w AS DOUBLE)
               / (SELECT max(abs(w)) FROM w{t}) * 1e6 + 0.5) AS BIGINT) AS v
      FROM w{t} w
    )"""
        )
    vT = f"v{_PCA_ITERS}"
    parts.append(
        f""",
    sgn AS (
      SELECT CASE WHEN (
        SELECT v FROM {vT} WHERE i = (
          SELECT min(i) FROM {vT} WHERE abs(v) = (SELECT max(abs(v)) FROM {vT})
        )) < 0 THEN -1 ELSE 1 END AS sg
    ),
    axis AS (
      SELECT v.i, sgn.sg * v.v / 1e6 AS w FROM {vT} v CROSS JOIN sgn
    )
    SELECT e.vec_id, e.label,
           FLOOR(sum(CAST(e.embedding[r.i] AS DOUBLE) * axis.w) * 1e6 + 0.5)
             / 1e6 AS pc1_proj
    FROM embeddings e
    CROSS JOIN range(1, {d + 1}) r(i)
    JOIN axis ON axis.i = r.i
    GROUP BY e.vec_id, e.label"""
    )
    return "".join(parts)


@register(
    "ml_pca_power_iteration",
    bench=True,  # iterative tier measured officially since r5 (VERDICT r4 item #3)
    tags=("ml", "embedding", "iterative"),
    oracle=_pca_oracle(),
)
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the dominant principal component, with the
    eigenvector found by POWER ITERATION — the iterative algorithm the
    oracle can only express by unrolling twelve chained CTEs. Every vector
    scores against the corpus's main axis of variation (outlier screening,
    1-D visualization, whitening's first step).

    Determinism across engines is the hard part, solved in fixed-point:
    the covariance matrix is quantized to a 1e-6 integer grid (absorbing
    double sum-order noise), and the iteration state stays INTEGER —
    integer matmuls are order-independent, and the per-round normalize is
    one IEEE divide+floor both engines round identically. Sign fixes to
    the first maximal component. The distributed work is the covariance
    aggregate (in-row outer products, d²-bounded keys — same reduction as
    ``emb_gram_matrix``) and the final projection map; the 64×64
    fixed-point eigen-iteration itself runs driver-side on 4 KB of state,
    the same bounded "fit locally, apply distributed" doctrine as
    ``plans/training.py`` (reference pretrain_models.py fits per-branch
    models the same way)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d, s = _PCA_D, _PCA_SCALE
    v = F.col("embedding").cast("array<double>")
    # Second moments via Arrow-batched PARTIAL Gram matrices: each
    # mapInPandas batch emits one row carrying its numpy X'X (d² doubles),
    # column sums, and count; the driver adds the handful of partials —
    # d²-bounded state per batch, where an in-row outer-product explode
    # shuffles n×d² struct rows into a d²-key aggregate. Partial-sum order
    # differs from DuckDB's sequential sum, which is exactly what the
    # 1e-6 covariance quantization grid absorbs.
    import math

    import numpy as np
    import pandas as pd

    def gram(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "xx": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = emb.select(v.alias("v")).mapInPandas(
        gram, schema="n long, s array<double>, xx array<double>"
    ).collect()
    n_tot = sum(p["n"] for p in parts)
    if n_tot == 0:
        # empty slice: no covariance to iterate on — empty projection
        # with the output schema, like the oracle's 0 rows (r12
        # empty-input sweep), instead of a NaN in the driver-side fit
        return emb.select(
            "vec_id", "label", F.lit(None).cast("double").alias("pc1_proj")
        )
    s_tot = np.zeros(d, dtype=np.float64)
    xx_tot = np.zeros(d * d, dtype=np.float64)
    for p in parts:
        s_tot += np.asarray(p["s"], dtype=np.float64)
        xx_tot += np.asarray(p["xx"], dtype=np.float64)
    mu = {i + 1: s_tot[i] / n_tot for i in range(d)}
    cq = {
        (i, j): int(
            math.floor(
                (xx_tot[(i - 1) * d + (j - 1)] / n_tot - mu[i] * mu[j]) * 1e6
                + 0.5
            )
        )
        for i in range(1, d + 1)
        for j in range(1, d + 1)
    }
    vec = [s if i == 1 else 0 for i in range(1, d + 1)]
    for _ in range(_PCA_ITERS):
        w = [
            sum(cq[(i, j)] * vec[j - 1] for j in range(1, d + 1))
            for i in range(1, d + 1)
        ]
        m = max(abs(x) for x in w)
        vec = [int(math.floor(x / m * 1e6 + 0.5)) for x in w]
    peak = max(abs(x) for x in vec)
    first_peak = next(x for x in vec if abs(x) == peak)
    sg = -1 if first_peak < 0 else 1
    axis = [sg * x / 1e6 for x in vec]
    proj = F.aggregate(
        F.zip_with(
            v,
            F.array(*[F.lit(a) for a in axis]),
            lambda x, a: x * a,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select("vec_id", "label", r6(proj).alias("pc1_proj"))


# --- running distinct: daily new vs cumulative unique users -----------------


@register(
    "w_cumulative_distinct_users",
    tags=("window", "events", "distinct"),
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily_new AS (
      SELECT first_day AS day, count(*) AS n_new_users
      FROM firsts GROUP BY first_day
    ),
    active AS (
      SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS n_active
      FROM events GROUP BY 1
    )
    SELECT a.day,
           CAST(COALESCE(d.n_new_users, 0) AS BIGINT) AS n_new_users,
           CAST(sum(COALESCE(d.n_new_users, 0))
                  OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_unique_users,
           a.n_active
    FROM active a LEFT JOIN daily_new d ON a.day = d.day
    """,
)
def w_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning audience curve: per day, how many users are
    seen for the FIRST time, the cumulative distinct-user count, and the
    plain daily actives. A running COUNT(DISTINCT) window is not a legal
    window aggregate on either engine — the portable (and scale-correct)
    formulation marks each user's first day with a min-aggregate, counts
    first-days per day, and turns the running distinct into a running SUM
    over day-cardinality rows.

    100 TB: two shuffles on user_id/day for the aggregates; the window
    runs over ~days rows on a single partition, which is exactly where a
    day-grain cumulative curve belongs."""
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily_new = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    active = ev.groupBy(day).agg(
        F.count_distinct("user_id").alias("n_active")
    )
    joined = active.join(F.broadcast(daily_new), ["day"], "left").select(
        "day",
        F.coalesce("n_new_users", F.lit(0)).alias("n_new_users"),
        "n_active",
    )
    cum = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(cum).alias("cum_unique_users"),
        "n_active",
    )


# --- data quality: join-key skew diagnostics --------------------------------

_SKEW_KEYS = (
    ("events.user_id", "events", "user_id"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("documents.lang", "documents", "lang"),
)


def _skew_oracle() -> str:
    parts = []
    for name, table, col in _SKEW_KEYS:
        parts.append(
            f"""
            SELECT '{name}' AS key_name,
                   CAST(sum(c) AS BIGINT) AS n_rows,
                   count(*) AS n_keys,
                   CAST(max(c) AS BIGINT) AS max_key_rows,
                   {sql_r2('max(c) / (sum(c) / count(*))')} AS skew_factor
            FROM (SELECT count(*) AS c FROM {table} GROUP BY {col})
            """
        )
    return " UNION ALL ".join(parts)


@register(
    "dq_skew_report",
    tags=("dq", "skew", "audit"),
    oracle=_skew_oracle(),
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: for each key a pipeline shuffles on, the
    heaviest key's row count and its ratio to the mean key load. A skew
    factor ≫ 1 on a planned join/aggregation key is the 100 TB early
    warning that says "salt this key or let AQE split it" BEFORE the
    straggler task appears — the measurement side of the salting operator
    in ``operators/skew.py``.

    Per key: one grouped count, then a 1-row summary; the four audits
    union into the report. Skew factor = max / (Σ/|keys|), computed
    identically on both engines and r2-rounded."""
    reports = []
    for name, table, col in _SKEW_KEYS:
        per = (
            load_table(spark, sf_dir, table)
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        reports.append(
            per.agg(
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("c").alias("max_key_rows"),
            ).select(
                F.lit(name).alias("key_name"),
                "n_rows",
                "n_keys",
                "max_key_rows",
                r2(
                    F.col("max_key_rows")
                    / (F.col("n_rows") / F.col("n_keys"))
                ).alias("skew_factor"),
            )
        )
    return reduce(DataFrame.unionByName, reports)


# --- embedding QA: intra-class pairwise cosine ------------------------------


@register(
    "emb_intra_class_cosine",
    tags=("embedding", "similarity", "aggregate"),
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_dot_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT a.label,
           count(*) AS n_pairs,
           {sql_r6('avg(list_dot_product(a.v, b.v) / (a.nrm * b.nrm))')}
             AS avg_cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    GROUP BY a.label
    """,
)
def emb_intra_class_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class cohesion: the average pairwise cosine
    similarity WITHIN each label. The embedding-QA measurement that
    catches a broken encoder (cohesion ≈ 0) or a collapsed one
    (cohesion ≈ 1) before any model trains on the vectors.

    The pair space is BLOCKED by label — a self-join on the label key plus
    a vec_id< cut — so the cost is Σ|class|²/2, never corpus², and the
    join shuffles on the label key only. Vectors cast float→double before
    any arithmetic on both engines; norms are computed once per row, not
    per pair. At 100 TB-scale class sizes, subsample per class first
    (``corpus_stratified_sample``) — the blocked-pair bound is the
    documented contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dot_self = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    e = emb.select(
        "vec_id", "label", v.alias("v"), F.sqrt(dot_self).alias("nrm")
    )
    a = e.alias("a")
    b = e.alias("b")
    dot_ab = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.label").alias("label"),
        (dot_ab / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
    )
    return pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        r6(F.avg("cos")).alias("avg_cosine"),
    )


# --- equi-width numeric histogram -------------------------------------------

_HIST_BINS = 20


@register(
    "a_numeric_histogram",
    tags=("aggregate", "histogram", "events"),
    oracle=f"""
    WITH b AS MATERIALIZED (
      SELECT min(value) AS lo, max(value) AS hi FROM events
    ),
    binned AS (
      SELECT LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / {_HIST_BINS}.0))
                     AS INT), {_HIST_BINS - 1}) AS bin
      FROM events CROSS JOIN b
    )
    SELECT bin,
           CAST(lo + bin * ((hi - lo) / {_HIST_BINS}.0) AS DOUBLE) AS bin_lo,
           CAST(lo + (bin + 1) * ((hi - lo) / {_HIST_BINS}.0) AS DOUBLE)
             AS bin_hi,
           count(*) AS n
    FROM binned CROSS JOIN b
    GROUP BY bin, lo, hi
    """,
)
def a_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of the measurement distribution (20 bins over
    the observed [min, max], top bin closed) — the profiling primitive
    behind optimizer statistics and data-drift monitors. Two passes: a
    1-row bounds aggregate broadcast onto the scan, then a binning
    aggregate keyed on ≤ 20 integers. The bin edges are derived with the
    identical floor arithmetic on both engines, so bucket boundaries are
    bit-stable. 100 TB: bounds pass + one tiny-key shuffle; for a single
    pass, swap the exact bounds for fixed domain knowledge."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / float(_HIST_BINS)
    binned = ev.crossJoin(F.broadcast(b)).select(
        F.least(
            F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
            F.lit(_HIST_BINS - 1),
        ).alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "bin",
        (F.col("lo") + F.col("bin") * width).cast("double").alias("bin_lo"),
        (F.col("lo") + (F.col("bin") + 1) * width).cast("double").alias("bin_hi"),
        "n",
    )


# --- k-means (Lloyd's) with fixed-point centroids ---------------------------

_KM_K = 8
_KM_ITERS = 5


def _kmeans_oracle() -> str:
    """Unrolled Lloyd's iterations as chained materialized CTEs. Centroids
    are quantized to a 1e-6 integer grid after every update (absorbing
    engine sum-order noise in the means); assignments break distance ties
    by centroid id. Distances use the same x·x − 2x·c + c·c expansion the
    Spark side computes."""
    k, d = _KM_K, _PCA_D
    parts = [
        f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    xx AS MATERIALIZED (
      SELECT vec_id, list_dot_product(v, v) AS xx FROM e
    ),
    c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(v, x -> CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS c
      FROM e ORDER BY vec_id LIMIT {k}
    )"""
    ]
    for t in range(1, _KM_ITERS + 1):
        parts.append(
            f""",
    d{t} AS (
      SELECT e.vec_id, c.cid,
             xx.xx - 2 * list_dot_product(e.v,
               list_transform(c.c, y -> CAST(y AS DOUBLE) / 1e6))
             + list_dot_product(
               list_transform(c.c, y -> CAST(y AS DOUBLE) / 1e6),
               list_transform(c.c, y -> CAST(y AS DOUBLE) / 1e6)) AS dist
      FROM e CROSS JOIN c{t - 1} c JOIN xx ON e.vec_id = xx.vec_id
    ),
    a{t} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
                 AS rk
        FROM d{t}
      ) WHERE rk = 1
    ),
    u{t} AS MATERIALIZED (
      SELECT a.cid,
             list(CAST(FLOOR(m * 1e6 + 0.5) AS BIGINT) ORDER BY i) AS c
      FROM (
        SELECT a.cid, r.i, avg(e.v[r.i]) AS m
        FROM a{t} a JOIN e ON a.vec_id = e.vec_id
        CROSS JOIN range(1, {d + 1}) r(i)
        GROUP BY a.cid, r.i
      ) AS a
      GROUP BY a.cid
    ),
    c{t} AS MATERIALIZED (
      SELECT p.cid, COALESCE(u.c, p.c) AS c
      FROM c{t - 1} p LEFT JOIN u{t} u ON p.cid = u.cid
    )"""
        )
    parts.append(
        f"""
    SELECT e.vec_id, e.label, a.cid AS cluster_id
    FROM e JOIN a{_KM_ITERS} a ON e.vec_id = a.vec_id"""
    )
    return "".join(parts)


def lloyd_assign(
    e,
    k: int,
    iters: int,
    pre_materialized: bool = False,
    ckpt_every: int | None = None,
):
    """Cross-engine-deterministic Lloyd's k-means assignment over any
    (vec_id, v: array<double>) frame — the shared engine behind
    ml_kmeans_fixed_point and corpus_semdedup. Contract (mirrored by the
    unrolled-CTE oracles): init = the k lowest-vec_id vectors; after
    every mean update centroids snap to a 1e-6 fixed-point grid
    (absorbing sum-order noise); distance ties break by centroid id;
    empty clusters carry their previous centroid; ``iters`` assignment
    rounds = ``iters − 1`` mean updates (the returned assignment uses
    the last updated centroids).

    Topology: the WHOLE iteration chains lazily inside one plan —
    per-round centroids are a k-row frame pivoted into one broadcast
    array row, the mean update and its fixed-point snap run in-plan, and
    NOTHING reaches the driver between rounds (no collect-job per round).
    Caveat: each round's centroid frame feeds both the next assignment
    and the empty-cluster COALESCE, and AQE does NOT reuse the
    duplicated stages (final-adaptive-plan inspection) — the fully-lazy
    chain re-executes ~2^rounds small subtrees and still wins locally
    because scans are cheaper than job floors; ``ckpt_every`` bounds the
    recompute for cluster runs. ``e`` is consumed once per round, so it is
    checkpointed here unless the caller already did
    (``pre_materialized=True``). Per round at cluster scale: one corpus
    scan (assignment map) + one (k×d)-keyed aggregate — driver state: 0."""
    from ..operators.materialize import materialize
    from pyspark.sql.window import Window

    e = e.select("vec_id", "v")
    if not pre_materialized:
        e = materialize(e, "lloyd-vecs")
    w = Window.orderBy("vec_id")
    # All heavy array expressions below are SQL strings (F.expr), not
    # Column-lambda higher-order functions: DataFrame CONSTRUCTION, not
    # execution, dominates this query's wall otherwise — each Python
    # lambda HOF costs dozens of Py4J gateway calls, and the
    # lazily-chained rounds multiply them. One expr string = one
    # roundtrip; the parsed Catalyst tree is identical, so plans, results
    # and oracles are the same.
    cents = (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("cid"),
            F.expr(
                "transform(v, x -> CAST(FLOOR(x * 1e6 + 0.5D) AS BIGINT))"
            ).alias("c"),
        )
    )

    self_dot = F.expr(
        "aggregate(zip_with(v, v, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"
    )

    # per-centroid squared distance, min index = assignment (position-1
    # in the cid-sorted array IS the centroid id; first-min keeps the
    # lowest-cid tie-break)
    _DISTS = """
    transform(cents, s -> xx
      - 2 * aggregate(zip_with(v, transform(s.c, y -> CAST(y AS DOUBLE) / 1e6),
                               (a, b) -> a * b), 0D, (acc, x) -> acc + x)
      + aggregate(transform(s.c, y -> CAST(y AS DOUBLE) / 1e6),
                  0D, (acc, y) -> acc + y * y))
    """

    # Parse/construct every per-round Column ONCE and reuse across rounds
    # (the pagerank r9 idiom: Columns are immutable unresolved trees,
    # name-bound at analysis — identical plans, and the per-round gateway
    # chatter collapses; r10 cProfile: lloyd-backed queries
    # ml_kmeans_fixed_point 1361 and corpus_semdedup 1497 construction
    # roundtrips were the bench suite's #2/#3).
    c_crow = F.expr("array_sort(collect_list(struct(cid, c))) AS cents")
    c_vecid, c_v, c_cents = F.col("vec_id"), F.col("v"), F.col("cents")
    c_xx = self_dot.alias("xx")
    c_d = F.expr(_DISTS).alias("d")
    c_cluster = F.expr(
        "CAST(array_position(d, array_min(d)) - 1 AS INT)"
    ).alias("cluster_id")
    c_pose = F.posexplode("v").alias("i", "x")
    c_avg = F.avg("x").alias("m")
    c_cu = F.expr(
        "transform(array_sort(collect_list(struct(i, m))), "
        "s -> CAST(FLOOR(s.m * 1e6 + 0.5D) AS BIGINT))"
    ).alias("cu")
    c_pcid, c_pc = F.col("p.cid"), F.col("p.c")
    c_pcid_out = c_pcid.alias("cid")

    def assign(cents):
        # k-row centroid frame → ONE broadcast array row sorted by cid
        # (struct sort = cid-first). Same tree as the pre-r10 withColumn
        # chain (CollapseProject merged those projections anyway).
        crow = cents.agg(c_crow)
        return (
            e.crossJoin(F.broadcast(crow))
            .select(c_vecid, c_v, c_cents, c_xx)
            .select(c_vecid, c_v, c_d)
            .select(c_vecid, c_v, c_cluster)
        )

    for t in range(iters - 1):
        u = (
            assign(cents)
            .select(F.col("cluster_id"), c_pose)
            .groupBy("cluster_id", "i")
            .agg(c_avg)
            .groupBy("cluster_id")
            .agg(c_cu)
        )
        cents = (
            cents.alias("p")
            .join(u, c_pcid == u["cluster_id"], "left")
            .select(c_pcid_out, F.coalesce(u["cu"], c_pc).alias("c"))
        )
        # Each round doubles the lazy lineage (cents feeds the next
        # assignment AND the coalesce), and AQE does not reuse the
        # duplicated stages here (verified on the final adaptive plan) —
        # fully-lazy means 2^rounds corpus scans. At fixture scale scans
        # are cheaper than job floors, decisively (the checkpoint jobs
        # re-execute the assignment subtrees they cut). A cluster
        # run — where a corpus scan is hours — sets ckpt_every low so
        # the worst chain re-executes the corpus boundedly, the same
        # doctrine as the PageRank cadence; the local default stays
        # fully lazy.
        if ckpt_every is not None and (t + 1) % ckpt_every == 0:
            from ..operators.materialize import materialize as _mat

            cents = _mat(cents, f"lloyd-cents-{t}")
    return assign(cents)


@register(
    "ml_kmeans_fixed_point",
    bench=True,  # iterative tier measured officially since r5 (VERDICT r4 item #3)
    tags=("ml", "embedding", "iterative"),
    oracle=_kmeans_oracle(),
)
def ml_kmeans_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 5 iterations) with CROSS-ENGINE-DETERMINISTIC
    state — the quantizer behind IVF ANN indexes and semantic-dedup
    bucketing, here specified tightly enough that an independent engine
    reproduces the exact assignment vector (the contract lives in
    ``lloyd_assign``, shared with corpus_semdedup). The MLlib-backed IVF
    quantizer (``operators/similarity.py``) remains the library path;
    this is the engine-native, oracle-checkable one. 100 TB: ``iters``
    scans + tiny-key shuffles, no all-pairs anything."""
    emb = load_table(spark, sf_dir, "embeddings")
    # fanout (r14): the embeddings fixture parquet is one row group, so
    # every per-round assignment pass (interpreted distance transforms
    # over the whole frame) serialized on ONE task — noop wall 6.1 s vs
    # the 0.95 s count() that prunes the distance math (guide §1.4).
    # Distances are pure row functions of (v, snapped centroids) and
    # centroid updates snap to the 1e-6 grid, so partitioning cannot
    # move the fixed point (lloyd_assign contract; hash-exact oracle).
    from ..operators.dedup import fanout

    e = fanout(
        emb.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    # pre_materialized: e is a pruned columnar scan (vec_id + embedding
    # only) — re-scanning it per assignment round beats a checkpoint
    # (materialize()'s documented "none" case). Derived/expression-heavy
    # inputs (semdedup's BoW chain) still checkpoint.
    asg = lloyd_assign(e, _KM_K, _KM_ITERS, pre_materialized=True)
    return asg.join(e.select("vec_id", "label"), "vec_id").select(
        "vec_id", "label", "cluster_id"
    )


# --- BM25 keyword search ----------------------------------------------------

_BM25_TERMS = ("spark", "hash", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    dl AS MATERIALIZED (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS MATERIALIZED (
      SELECT avg(dl) AS avgdl, count(*) AS n FROM dl
    ),
    q(term) AS (VALUES {terms}),
    tf AS (
      SELECT t.doc_id, t.tok AS term, count(*) AS tf
      FROM toks t JOIN q ON t.tok = q.term
      GROUP BY t.doc_id, t.tok
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             sum(
               ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1e0)
               * tf.tf / (tf.tf + {_BM25_K1} * (1e0 - {_BM25_B}
                   + {_BM25_B} * dl.dl / s.avgdl))
             ) AS score
      FROM tf
      JOIN df USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, {sql_r6('score')} AS score
    FROM scored
    ORDER BY {sql_r6('score')} DESC, doc_id
    LIMIT 10
    """


@register(
    "text_bm25_topk",
    tags=("text", "search", "ranking"),
    oracle=_bm25_oracle(),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text ranking (Robertson k1=1.2, b=0.75) for a fixed
    keyword query — the lexical-search primitive RAG retrieval stacks
    pair with the embedding ANN operators already registered. Scores are
    r6-rounded BEFORE the top-10 cut and tie-break on doc_id, so the
    ranking boundary is deterministic on both engines.

    Spark-first: explode tokens, semi-filter to the query terms (the term
    dimension is a literal IN list — no join against a terms table
    needed), aggregate tf per (doc, term), then broadcast the tiny df and
    corpus-stats frames onto the scoring join. 100 TB: one shuffle for
    tf, one for document length; everything else is broadcast-sized. A
    standing query set would precompute the inverted tf index once
    (``s_incremental_agg_merge`` shows the maintenance pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n"))
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") / denom).alias("score"))
        .select("doc_id", r6(F.col("score")).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(10)


# --- two-feature OLS per group (normal equations, closed form) --------------


@register(
    "ml_ols_two_feature",
    tags=("ml", "regression", "aggregate"),
    oracle=f"""
    WITH q AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_quantity + 0.5) AS HUGEINT)             AS xi,
             CAST(FLOOR(l_discount * 1e2 + 0.5) AS HUGEINT)       AS zc,
             CAST(FLOOR(l_extendedprice * 1e2 + 0.5) AS HUGEINT)  AS yc
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
             sum(xi) AS sx, sum(zc) AS sz, sum(yc) AS sy,
             sum(xi * xi) AS sxx, sum(zc * zc) AS szz,
             sum(xi * zc) AS sxz, sum(xi * yc) AS sxy,
             sum(zc * yc) AS szy
      FROM q GROUP BY l_returnflag
    ),
    c AS (
      SELECT l_returnflag, n,
             CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
             CAST(n * szz - sz * sz AS DOUBLE) AS czz,
             CAST(n * sxz - sx * sz AS DOUBLE) AS cxz,
             CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
             CAST(n * szy - sz * sy AS DOUBLE) AS czy,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
             CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS mz,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS my
      FROM m
    ),
    b AS (
      SELECT l_returnflag, n, mx, mz, my,
             (cxy * czz - czy * cxz) / (cxx * czz - cxz * cxz) / 1e2
               AS bq,
             (czy * cxx - cxy * cxz) / (cxx * czz - cxz * cxz) AS bd
      FROM c
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           {sql_r6('bq')} AS beta_quantity,
           {sql_r6('bd')} AS beta_discount,
           {sql_r6('my - bq * mx - bd * mz')} AS intercept
    FROM b
    """,
)
def ml_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares per group — price regressed on
    quantity and discount per return flag — solved in CLOSED FORM from one
    aggregation pass: nine sufficient-statistic sums per group, then
    Cramer's rule on the 2×2 centered normal equations. The multi-feature
    step up from the single-feature ``ml_linreg_forecast``, still with no
    solver library, no iteration, and no second data pass.

    Exactness (r12, the a_stats_moments finding generalized): the nine
    sufficient statistics accumulate as EXACT integers over the
    quantized inputs — quantity is integral, discount/extendedprice are
    2-decimal, so half-up cents recover the data exactly — in
    decimal(38,0) (HUGEINT in the oracle). Centering is n-scaled and
    stays in the integer domain (C•• = n·s•• − s•·s•, exact — the
    catastrophic cancellation float moments suffer happens here with
    zero error), and only THEN do both engines cast the identical
    integers to double and run the identical Cramer sequence: every
    rounding event operates on bit-identical inputs, so the output is
    bit-exact at ANY data distribution (the adversarial-skew sweep
    caught the float version half-an-ulp across the r6 grid). The
    n-scaled determinant ratio equals the per-n one (both scale by n²).
    100 TB: one map-side-partial shuffle per group key; C-products stay
    ≤ ~1e31 at the 100× probe — 7 orders inside decimal(38)/HUGEINT.
    The d-feature generalization keeps the pattern (d² sums/group)
    until d is large enough for MLlib's distributed solver."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.selectExpr(
        "l_returnflag",
        "CAST(FLOOR(l_quantity + 0.5) AS DECIMAL(38,0))            AS xi",
        "CAST(FLOOR(l_discount * 1e2 + 0.5) AS DECIMAL(38,0))      AS zc",
        "CAST(FLOOR(l_extendedprice * 1e2 + 0.5) AS DECIMAL(38,0)) AS yc",
    )
    m = q.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("sx"), F.sum("zc").alias("sz"),
        F.sum("yc").alias("sy"),
        F.sum(F.expr("xi * xi")).alias("sxx"),
        F.sum(F.expr("zc * zc")).alias("szz"),
        F.sum(F.expr("xi * zc")).alias("sxz"),
        F.sum(F.expr("xi * yc")).alias("sxy"),
        F.sum(F.expr("zc * yc")).alias("szy"),
    )
    c = m.selectExpr(
        "l_returnflag", "n",
        "CAST(n * sxx - sx * sx AS DOUBLE) AS cxx",
        "CAST(n * szz - sz * sz AS DOUBLE) AS czz",
        "CAST(n * sxz - sx * sz AS DOUBLE) AS cxz",
        "CAST(n * sxy - sx * sy AS DOUBLE) AS cxy",
        "CAST(n * szy - sz * sy AS DOUBLE) AS czy",
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx",
        "CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS mz",
        "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e2 AS my",
    )
    b = c.selectExpr(
        "l_returnflag", "n", "mx", "mz", "my",
        "(cxy * czz - czy * cxz) / (cxx * czz - cxz * cxz) / 1e2 AS bq",
        "(czy * cxx - cxy * cxz) / (cxx * czz - cxz * cxz) AS bd",
    )
    return b.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        r6(F.col("bq")).alias("beta_quantity"),
        r6(F.col("bd")).alias("beta_discount"),
        r6(F.expr("my - bq * mx - bd * mz")).alias("intercept"),
    )


# --- bot-likeness scoring over the event stream -----------------------------


@register(
    "events_bot_score",
    tags=("events", "quality", "aggregate"),
    oracle=f"""
    WITH gaps AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 AS gap_s
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             count(gap_s) AS n_gaps,
             avg(gap_s) AS mean_gap,
             CASE WHEN count(gap_s) >= 2 THEN
               sqrt((sum(gap_s * gap_s) - sum(gap_s) * sum(gap_s)
                       / count(gap_s)) / (count(gap_s) - 1))
             END AS sd_gap
      FROM gaps WHERE gap_s IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           {sql_r2('mean_gap')} AS mean_gap_s,
           {sql_r6('sd_gap / mean_gap')} AS gap_cv,
           COALESCE(n_gaps >= 20 AND sd_gap / mean_gap < 0.3e0, FALSE)
             AS is_bot_like
    FROM per_user
    """,
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness screening: users whose inter-event gaps are too
    REGULAR (coefficient of variation < 0.3 across ≥ 20 gaps) — human
    traffic is bursty, schedulers are metronomes. The abuse-filtering
    cousin of ``ts_interarrival_stats``, reduced to one LAG window and a
    per-user aggregate; the stddev derives from the three running sums
    rather than a second pass. NULL-guarded so sparse users emit null CV
    and FALSE, never a spurious flag. 100 TB: one shuffle on user_id
    shared by the window and the aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)) / 1e6
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        F.avg("gap_s").alias("mean_gap"),
        F.sum("gap_s").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"),
    )
    n = F.col("n_gaps")
    sd = F.when(
        n >= 2,
        F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)),
    )
    cv = sd / F.col("mean_gap")
    return per_user.select(
        "user_id",
        n.alias("n_gaps"),
        r2(F.col("mean_gap")).alias("mean_gap_s"),
        r6(cv).alias("gap_cv"),
        F.coalesce((n >= 20) & (cv < 0.3), F.lit(False)).alias("is_bot_like"),
    )


# --- time-series: additive seasonal decomposition (STL-style) ---------------


@register(
    "ts_stl_decompose",
    tags=("timeseries", "events", "window"),
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tr AS (
      SELECT day, n,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN AVG(CAST(n AS DOUBLE)) OVER w END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    dt AS (
      SELECT *, CAST(dayofweek(day) AS INT) AS dow, n - trend AS detr FROM tr
    ),
    seas0 AS (
      SELECT dow, AVG(detr) AS s0 FROM dt WHERE detr IS NOT NULL GROUP BY 1
    ),
    seas AS (
      SELECT dow, s0 - (SELECT AVG(s0) FROM seas0) AS seasonal FROM seas0
    )
    SELECT d.day, d.n,
           FLOOR(d.trend * 1e4 + 0.5) / 1e4 AS trend,
           FLOOR(s.seasonal * 1e4 + 0.5) / 1e4 AS seasonal,
           FLOOR((d.n - d.trend - s.seasonal) * 1e4 + 0.5) / 1e4 AS resid
    FROM dt d JOIN seas s USING (dow)
    """,
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-trend decomposition of the daily event-count
    series, the moving-average flavor of STL (Cleveland et al. 1990):
    trend = centered 7-day moving average (full windows only), seasonal =
    mean day-of-week effect of the detrended series recentered to zero,
    residual = remainder. The classic pre-forecast diagnostic — the
    reference's Prophet models fit exactly trend+weekly-seasonality
    (reference pretrain_models.py:22-29); this exposes those components
    as a query. Scale: the series is one row per (grain) — aggregation
    shuffles the events once, then windows run over the tiny series
    frame; the seasonal frame is 7 rows, broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "n",
        F.when(
            F.count(F.lit(1)).over(w) == 7, F.avg(F.col("n").cast("double")).over(w)
        ).alias("trend"),
    )
    dt = tr.withColumn("dow", F.dayofweek("day")).withColumn(
        "detr", F.col("n") - F.col("trend")
    )
    seas0 = dt.filter(F.col("detr").isNotNull()).groupBy("dow").agg(
        F.avg("detr").alias("s0")
    )
    grand = seas0.agg(F.avg("s0").alias("g"))
    seas = seas0.crossJoin(F.broadcast(grand)).select(
        "dow", (F.col("s0") - F.col("g")).alias("seasonal")
    )
    out = dt.join(F.broadcast(seas), "dow")
    r4_ = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return out.select(
        "day",
        "n",
        r4_(F.col("trend")).alias("trend"),
        r4_(F.col("seasonal")).alias("seasonal"),
        r4_(F.col("n") - F.col("trend") - F.col("seasonal")).alias("resid"),
    )


# --- data quality: Benford first-digit audit --------------------------------


@register(
    "dq_benford_score",
    tags=("dq", "aggregate", "statistics"),
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM lineitem WHERE l_extendedprice >= 1
    ),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
      FROM d GROUP BY 1
    )
    SELECT digit, n,
           FLOOR(CAST(n AS DOUBLE) / total * 1e6 + 0.5) / 1e6 AS observed_p,
           FLOOR(log10(1.0 + 1.0 / digit) * 1e6 + 0.5) / 1e6 AS benford_p,
           FLOOR((CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit))
                 * 1e6 + 0.5) / 1e6 AS deviation
    FROM obs
    """,
)
def dq_benford_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the price column: observed
    leading-digit frequencies vs the log10(1+1/d) law, per digit with the
    signed deviation — the standard forensic screen for fabricated or
    truncated numeric columns (TPC-H's uniform synthetic prices deviate
    strongly and visibly, which is itself the point: the audit detects
    non-natural generation). One map-side aggregate to 9 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.floor(F.col("l_extendedprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = (
        li.filter(F.col("l_extendedprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("total", F.sum("n").over(Window.partitionBy()))
    )
    p = F.col("n").cast("double") / F.col("total")
    law = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    r6_ = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return obs.select(
        "digit",
        "n",
        r6_(p).alias("observed_p"),
        r6_(law).alias("benford_p"),
        r6_(p - law).alias("deviation"),
    )


# --- corpus: tokenizer fertility by language --------------------------------


@register(
    "corpus_tokenizer_fertility",
    tags=("corpus", "text", "aggregate"),
    oracle=r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT)
             AS subword_tokens,
           FLOOR(CAST(SUM(len(regexp_extract_all(lower(text),
                             '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
                 / SUM(len(string_split_regex(trim(text), '\s+')))
                 * 1e4 + 0.5) / 1e4 AS fertility
    FROM documents
    GROUP BY 1
    """,
)
def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: subword-ish tokens per whitespace
    word under the BPE-style pre-tokenizer regex (letter runs / digit
    runs / single punctuation). Fertility is the standard measure of how
    expensive a language is for a given tokenizer (tokens per word ≈
    compute per word) and drives per-language mixture budgeting next to
    corpus_mix_weighted. Pure map-side counting into a 5-row frame — no
    token explosion, the regexes count in place."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import token_count

    sub = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    ).cast("long")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("ws_tokens"),
        F.sum(sub).cast("long").alias("subword_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "subword_tokens",
        (
            F.floor(
                F.col("subword_tokens").cast("double")
                / F.col("ws_tokens")
                * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("fertility"),
    )


# --- events: RFM scoring -----------------------------------------------------


@register(
    "events_rfm_scores",
    tags=("events", "analytics", "window"),
    oracle="""
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
    base AS (
      SELECT user_id,
             CAST(date_diff('day', MAX(CAST(ts AS DATE)), MIN(mx.max_day))
                  AS INT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             FLOOR(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                     THEN value END), 0) * 1e2 + 0.5) / 1e2
               AS monetary
      FROM events, mx GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS INT)
             AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INT) AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary, user_id) AS INT) AS m_score
    FROM base
    """,
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring over the
    event log: days since last activity, event count, purchase-value
    total, each quintile-ranked 1-5 (higher = better; recency ranks
    descending so the most recent users score 5). Ties broken by user_id
    so NTILE is cross-engine deterministic. The canonical segmentation
    feature set for retention/LTV models. Scale: one shuffle to the
    per-user frame; the NTILE windows are global but run over one row
    per user — for web-scale user counts swap for percent_rank bucketing
    per partition-range (documented trade; the fixture frame is tiny)."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    base = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.min("max_day"), F.max(F.col("ts").cast("date")))
            .cast("int")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            (
                F.floor(
                    F.coalesce(
                        F.sum(
                            F.when(
                                F.col("event_type") == "purchase", F.col("value")
                            )
                        ),
                        F.lit(0),
                    )
                    * 1e2
                    + F.lit(0.5)
                )
                / 1e2
            ).alias("monetary"),
        )
    )
    return base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_days").desc(), F.col("user_id")))
        .cast("int")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy("frequency", "user_id"))
        .cast("int")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("monetary", "user_id"))
        .cast("int")
        .alias("m_score"),
    )


# --- robust statistics: median absolute deviation ---------------------------


@register(
    "a_mad_robust",
    tags=("aggregate", "statistics", "robust"),
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           FLOOR(MIN(m.med) * 1e4 + 0.5) / 1e4 AS median_price,
           FLOOR(quantile_cont(ABS(l.l_extendedprice - m.med), 0.5)
                 * 1e4 + 0.5) / 1e4 AS mad_price,
           FLOOR(quantile_cont(ABS(l.l_extendedprice - m.med), 0.5) * 1.4826
                 * 1e4 + 0.5) / 1e4 AS robust_sigma
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY 1
    """,
)
def a_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    estimate (and its 1.4826·MAD normal-consistent sigma) that outlier
    fences should use instead of stddev when the column is heavy-tailed.
    Two passes by construction (the second pass needs the first's
    median); the per-group median frame is tiny and broadcast back.
    Exact interpolated medians (Spark percentile == quantile_cont) so
    both engines agree bit-for-bit after rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("med")
    )
    r4_ = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            r4_(F.min("med")).alias("median_price"),
            r4_(
                F.expr("percentile(ABS(l_extendedprice - med), 0.5)")
            ).alias("mad_price"),
            r4_(
                F.expr("percentile(ABS(l_extendedprice - med), 0.5)") * 1.4826
            ).alias("robust_sigma"),
        )
    )


# --- corpus statistics: Zipf's-law fit --------------------------------------


@register(
    "text_zipf_slope",
    tags=("text", "corpus", "statistics"),
    oracle=r"""
    WITH tf AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents)
      GROUP BY 1
    ),
    r AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rank FROM tf
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           FLOOR(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS zipf_slope,
           FLOOR(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS fit_r2
    FROM r
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) plus R² — natural text sits near slope −1,
    so the fitted slope is a one-number corpus-health signal (word salad,
    boilerplate floods, and template spam all bend it). Rank ties broken
    by token for cross-engine determinism. Scale: one token-count
    shuffle; the regression inputs are one row per vocabulary TYPE
    (vanishing vs the corpus), reduced by the built-in regr_* aggregates
    — the global rank window runs over the type frame only (at web scale
    cap to the top-k types by count first; slope over the head is the
    standard practice anyway)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokens

    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    r = tf.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("tok")))
        .alias("rank"),
    )
    lnc = F.log(F.col("c").cast("double"))
    lnr = F.log(F.col("rank").cast("double"))
    r6_ = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        r6_(F.regr_slope(lnc, lnr)).alias("zipf_slope"),
        r6_(F.regr_r2(lnc, lnr)).alias("fit_r2"),
    )


# --- streaming semantics in batch: watermark late-arrival audit -------------


@register(
    "events_late_arrival_audit",
    tags=("events", "streaming", "window"),
    oracle="""
    WITH arr AS (
      SELECT event_type, ts,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS max_seen
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ts < max_seen - INTERVAL 10 MINUTE
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           FLOOR(CAST(SUM(CASE WHEN ts < max_seen - INTERVAL 10 MINUTE
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1e4 + 0.5) / 1e4 AS late_share
    FROM arr
    GROUP BY 1
    """,
)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data audit, batch-replayed: an event is LATE under a
    10-minute watermark exactly when its event time is older than
    (max event time seen so far in ARRIVAL order − 10 min) — the precise
    drop rule Structured Streaming applies. Replaying the rule over the
    log (arrival order = event_id) quantifies, per type, how much data a
    given delay would discard BEFORE anyone picks the watermark for the
    st_* streams. Scale note: the running max is a global arrival-order
    scan (single partition) — correct for auditing one log; at 100 TB
    audit per ingestion shard/hour and aggregate the shares, since
    watermarks advance per-partition upstream anyway."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    arr = ev.select(
        "event_type", "ts", F.max("ts").over(w).alias("max_seen")
    )
    late = (
        F.col("ts") < F.col("max_seen") - F.expr("INTERVAL 10 MINUTE")
    ).cast("long")
    return arr.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(late).cast("long").alias("n_late"),
        (
            F.floor(
                F.sum(late).cast("double") / F.count(F.lit(1)) * 1e4 + F.lit(0.5)
            )
            / 1e4
        ).alias("late_share"),
    )


# --- attribution: last-touch revenue ----------------------------------------


@register(
    "events_attribution_last_touch",
    tags=("events", "analytics", "window"),
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type IN ('view','click')
                             THEN event_type END IGNORE NULLS) OVER w
               AS src_type,
             last_value(CASE WHEN event_type IN ('view','click')
                             THEN ts END IGNORE NULLS) OVER w AS src_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT COALESCE(CASE WHEN src_ts >= ts - INTERVAL 7 DAY THEN src_type END,
                    'direct') AS attributed_to,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           FLOOR(SUM(value) * 1e2 + 0.5) / 1e2 AS revenue
    FROM o
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to the
    user's most recent preceding view/click within a 7-day lookback, else
    'direct' — revenue and purchase counts by attributed channel. One
    IGNORE-NULLS running window per user carries (source type, source
    time) as two scalars; no self-join, no as-of join materialization.
    Scale: single shuffle on user_id, window state is O(1) per user."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_src = F.col("event_type").isin("view", "click")
    o = ev.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.last(F.when(is_src, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("src_type"),
        F.last(F.when(is_src, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("src_ts"),
    )
    return (
        o.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(
                F.when(
                    F.col("src_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY"),
                    F.col("src_type"),
                ),
                F.lit("direct"),
            ).alias("attributed_to")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            (F.floor(F.sum("value") * 1e2 + F.lit(0.5)) / 1e2).alias("revenue"),
        )
    )


# --- two-sample inference: Welch's t-test -----------------------------------


@register(
    "a_welch_ttest",
    tags=("aggregate", "statistics", "inference"),
    oracle="""
    WITH g AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END
               AS grp,
             l_extendedprice AS x
      FROM lineitem
    ),
    s AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS m,
             var_samp(x) AS v
      FROM g GROUP BY 1
    ),
    w AS (
      SELECT a.n AS n_a, b.n AS n_b, a.m AS m_a, b.m AS m_b,
             a.v / a.n + b.v / b.n AS se2,
             a.v / a.n AS sa, b.v / b.n AS sb
      FROM s a JOIN s b ON a.grp = 'returned' AND b.grp = 'kept'
    )
    SELECT n_a, n_b,
           FLOOR(m_a * 1e4 + 0.5) / 1e4 AS mean_a,
           FLOOR(m_b * 1e4 + 0.5) / 1e4 AS mean_b,
           FLOOR((m_a - m_b) / sqrt(se2) * 1e6 + 0.5) / 1e6 AS t_stat,
           FLOOR(se2 * se2 / (sa * sa / (n_a - 1) + sb * sb / (n_b - 1))
                 * 1e4 + 0.5) / 1e4 AS welch_df
    FROM w
    """,
)
def a_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test (returned vs kept line
    items on price): group means, t statistic, and Welch–Satterthwaite
    degrees of freedom — the A/B-test primitive, computed from one
    grouped pass of count/mean/variance (all map-side combinable) and a
    2-row join. Spark's var_samp matches quantile-free one-pass
    co-moments on both engines; outputs rounded against sum-order ulp."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        F.when(F.col("l_returnflag") == "R", "returned")
        .otherwise("kept")
        .alias("grp"),
        F.col("l_extendedprice").alias("x"),
    )
    s = g.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("x").alias("m"),
        F.var_samp("x").alias("v"),
    )
    a = s.filter(F.col("grp") == "returned").select(
        F.col("n").alias("n_a"), F.col("m").alias("m_a"), F.col("v").alias("v_a")
    )
    b = s.filter(F.col("grp") == "kept").select(
        F.col("n").alias("n_b"), F.col("m").alias("m_b"), F.col("v").alias("v_b")
    )
    w = a.crossJoin(b).select(
        "n_a",
        "n_b",
        "m_a",
        "m_b",
        (F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")).alias("se2"),
        (F.col("v_a") / F.col("n_a")).alias("sa"),
        (F.col("v_b") / F.col("n_b")).alias("sb"),
    )
    r4_ = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    r6_ = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return w.select(
        "n_a",
        "n_b",
        r4_(F.col("m_a")).alias("mean_a"),
        r4_(F.col("m_b")).alias("mean_b"),
        r6_((F.col("m_a") - F.col("m_b")) / F.sqrt(F.col("se2"))).alias("t_stat"),
        r4_(
            F.col("se2")
            * F.col("se2")
            / (
                F.col("sa") * F.col("sa") / (F.col("n_a") - 1)
                + F.col("sb") * F.col("sb") / (F.col("n_b") - 1)
            )
        ).alias("welch_df"),
    )


# --- drift monitoring: population stability index ---------------------------


@register(
    "dq_drift_psi",
    tags=("dq", "statistics", "drift"),
    oracle="""
    WITH half AS (
      SELECT value,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 'base' ELSE 'current' END AS period
      FROM events
    ),
    edges AS (
      SELECT MIN(value) AS lo, MAX(value) AS hi FROM half WHERE period = 'base'
    ),
    binned AS (
      SELECT period,
             LEAST(GREATEST(CAST(FLOOR((value - lo) / ((hi - lo) / 10.0))
                                 AS INT), 0), 9) AS bin
      FROM half CROSS JOIN edges
    ),
    counts AS (
      SELECT bin,
             CAST(COUNT(*) FILTER (period = 'base') AS BIGINT) AS n_base,
             CAST(COUNT(*) FILTER (period = 'current') AS BIGINT) AS n_cur
      FROM binned GROUP BY 1
    ),
    tot AS (
      SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM counts
    )
    SELECT bin, n_base, n_cur,
           FLOOR((CAST(n_cur AS DOUBLE) / tc - CAST(n_base AS DOUBLE) / tb)
                 * ln((CAST(n_cur AS DOUBLE) / tc + 1e-6)
                      / (CAST(n_base AS DOUBLE) / tb + 1e-6))
                 * 1e6 + 0.5) / 1e6 AS psi_term
    FROM counts CROSS JOIN tot
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half-month
    of the event log: decile-binned (bins fixed from the BASE period —
    the production convention, so current-period outliers clamp into the
    edge bins) with per-bin PSI terms; Σ terms > 0.2 is the standard
    retrain alarm. The drift monitor every deployed model needs next to
    dq_skew_report's pipeline health view. One scan + a 1-row bounds
    broadcast + a ≤10-key aggregate; epsilon-smoothed log ratio keeps
    empty bins finite on both engines identically."""
    ev = load_table(spark, sf_dir, "events")
    half = ev.select(
        "value",
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), "base"
        )
        .otherwise("current")
        .alias("period"),
    )
    edges = half.filter(F.col("period") == "base").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 10.0
    binned = half.crossJoin(F.broadcast(edges)).select(
        "period",
        F.least(
            F.greatest(
                F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
                F.lit(0),
            ),
            F.lit(9),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "base", 1).otherwise(0))
        .cast("long")
        .alias("n_base"),
        F.sum(F.when(F.col("period") == "current", 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    pb = F.col("n_base").cast("double") / F.col("tb")
    pc = F.col("n_cur").cast("double") / F.col("tc")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_base",
            "n_cur",
            (
                F.floor(
                    (pc - pb)
                    * F.log((pc + F.lit(1e-6)) / (pb + F.lit(1e-6)))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("psi_term"),
        )
    )


# --- concentration: Gini coefficient ----------------------------------------


@register(
    "a_gini_concentration",
    tags=("aggregate", "statistics", "window"),
    oracle="""
    WITH x AS (
      SELECT o_custkey, SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rk,
             COUNT(*) OVER () AS n,
             SUM(rev) OVER () AS tot
      FROM x
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_customers,
           FLOOR(MIN(tot) * 1e2 + 0.5) / 1e2 AS total_revenue,
           FLOOR((2.0 * SUM(rk * rev) / (MIN(n) * MIN(tot))
                  - (MIN(n) + 1.0) / MIN(n)) * 1e6 + 0.5) / 1e6 AS gini
    FROM r
    """,
)
def a_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration via the exact
    rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
    revenues — the one-number inequality metric for 'how concentrated is
    the business' (and, in corpus work, how concentrated token mass or
    source contribution is). Tie-invariant: permuting equal revenues
    leaves Σ(i·xᵢ) unchanged, so the tie-break only pins engine order.
    Scale: per-customer aggregate, then a single global rank window over
    one row per customer — for web-scale swap the exact rank for the
    binned Lorenz approximation."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("rev", "o_custkey")
    r = x.select(
        "rev",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.sum("rev").over(Window.partitionBy()).alias("tot"),
    )
    return r.agg(
        F.min("n").cast("long").alias("n_customers"),
        (F.floor(F.min("tot") * 1e2 + F.lit(0.5)) / 1e2).alias("total_revenue"),
        (
            F.floor(
                (
                    2.0 * F.sum(F.col("rk") * F.col("rev"))
                    / (F.min("n") * F.min("tot"))
                    - (F.min("n") + 1.0) / F.min("n")
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("gini"),
    )


# --- survival analysis: Kaplan-Meier churn curve ----------------------------


@register(
    "ml_survival_km",
    tags=("ml", "statistics", "events", "window"),
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS tp,
             (SELECT MAX(epoch_us(ts)) FROM events) AS te
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT user_id,
             (COALESCE(tp, te) - t0) // 3600000000 AS dur,
             CAST(tp IS NOT NULL AS INT) AS observed
      FROM u
    ),
    t AS (
      SELECT dur, CAST(SUM(observed) AS BIGINT) AS d
      FROM d GROUP BY 1 HAVING SUM(observed) > 0
    ),
    risk AS (
      SELECT t.dur, t.d,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM d WHERE d.dur >= t.dur)
               AS n_risk
      FROM t
    )
    SELECT dur AS duration_hours, n_risk, d AS n_converted,
           CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                     OVER w = 1 THEN 0.0
                ELSE FLOOR(exp(SUM(CASE WHEN d < n_risk
                                        THEN ln(1.0 - CAST(d AS DOUBLE)
                                                / n_risk) ELSE 0 END)
                               OVER w) * 1e6 + 0.5) / 1e6
           END AS survival
    FROM risk
    WINDOW w AS (ORDER BY dur ROWS UNBOUNDED PRECEDING)
    """,
)
def ml_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-event curve for hours from a user's first
    event to their first PURCHASE, right-censored at log end for users
    who never convert — S(t) = Π(1 − dᵤ/nᵤ) computed as exp of a running
    sum of logs (the product-free form both engines evaluate
    identically, rounded at 1e-6; durations in integer-µs arithmetic).
    The censoring-aware conversion analysis that naive 'avg time to
    purchase' biases when the observation window truncates. The
    fixture's uniform event mix converts nearly every user (few censored
    rows); the estimator handles censoring wherever it occurs. Scale:
    one shuffle to per-user rows, then windows over one row per distinct
    duration — vanishing vs the log."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    logend = ev.agg(F.max(us).alias("te"))
    u = (
        ev.crossJoin(F.broadcast(logend))
        .groupBy("user_id")
        .agg(
            F.min(us).alias("t0"),
            F.min(
                F.when(F.col("event_type") == "purchase", us)
            ).alias("tp"),
            F.min("te").alias("te"),
        )
    )
    d = u.select(
        "user_id",
        F.floor(
            (F.coalesce(F.col("tp"), F.col("te")) - F.col("t0"))
            / F.lit(3600000000)
        )
        .cast("long")
        .alias("dur"),
        F.col("tp").isNotNull().cast("int").alias("observed"),
    )
    t = (
        d.groupBy("dur")
        .agg(F.sum("observed").cast("long").alias("d"))
        .filter(F.col("d") > 0)
    )
    sizes = d.groupBy("dur").agg(F.count(F.lit(1)).alias("c"))
    # n_risk(t) = Σ c over durations >= t: a running sum over the tiny
    # distinct-duration frame, descending
    risk_w = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = sizes.select(
        "dur", F.sum("c").over(risk_w).cast("long").alias("n_risk")
    )
    risk = t.join(at_risk, "dur")
    km_w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    # terminal point: when d == n_risk the factor is 0 (survival hits 0
    # exactly) — keep it out of the log and pin 0.0 from there on
    hit_zero = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(km_w)
    lnsum = F.sum(
        F.when(
            F.col("d") < F.col("n_risk"),
            F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
        ).otherwise(F.lit(0.0))
    ).over(km_w)
    return risk.select(
        F.col("dur").alias("duration_hours"),
        "n_risk",
        F.col("d").alias("n_converted"),
        F.when(hit_zero == 1, F.lit(0.0))
        .otherwise(F.floor(F.exp(lnsum) * 1e6 + F.lit(0.5)) / 1e6)
        .alias("survival"),
    )


# --- changepoint detection: CUSUM -------------------------------------------


@register(
    "ts_changepoint_cusum",
    tags=("timeseries", "events", "window"),
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    m AS (SELECT AVG(CAST(n AS DOUBLE)) AS mu FROM daily),
    s AS (
      SELECT day, n,
             SUM(n - mu) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cusum
      FROM daily CROSS JOIN m
    ),
    mx AS (SELECT MAX(ABS(cusum)) AS peak FROM s),
    flagged AS (
      SELECT s.day, s.n, s.cusum,
             ABS(s.cusum) = mx.peak AS at_peak
      FROM s CROSS JOIN mx
    )
    SELECT day, n,
           FLOOR(cusum * 1e4 + 0.5) / 1e4 AS cusum,
           CAST(at_peak AND day = (SELECT MIN(day) FROM flagged WHERE at_peak)
                AS BOOLEAN) AS is_changepoint
    FROM flagged
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily event-count series: the
    running sum of deviations from the global mean peaks (in absolute
    value) at the most likely level-shift point — the classic
    distribution-free changepoint locator, and the discrete analog of
    the changepoint machinery inside the reference's Prophet models
    (pretrain_models.py's changepoint_prior_scale). Earliest peak day
    wins ties deterministically. Scale: one shuffle to the daily frame;
    every window runs over one row per day."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = daily.agg(F.avg(F.col("n").cast("double")).alias("mu"))
    s = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "n",
        F.sum(F.col("n") - F.col("mu"))
        .over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cusum"),
    )
    mx = s.agg(F.max(F.abs(F.col("cusum"))).alias("peak"))
    flagged = s.crossJoin(F.broadcast(mx)).withColumn(
        "at_peak", F.abs(F.col("cusum")) == F.col("peak")
    )
    first_peak = flagged.filter(F.col("at_peak")).agg(
        F.min("day").alias("cp_day")
    )
    return (
        flagged.crossJoin(F.broadcast(first_peak))
        .select(
            "day",
            "n",
            (F.floor(F.col("cusum") * 1e4 + F.lit(0.5)) / 1e4).alias("cusum"),
            (F.col("at_peak") & (F.col("day") == F.col("cp_day")))
            .cast("boolean")
            .alias("is_changepoint"),
        )
    )


# --- product analytics: rolling active users (DAU / WAU) --------------------


@register(
    "events_dau_wau",
    tags=("events", "analytics", "distinct"),
    oracle="""
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM activity),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM activity GROUP BY 1
    ),
    contrib AS (
      SELECT DISTINCT a.user_id, a.day + CAST(i AS INT) AS wday
      FROM activity a,
           LATERAL (SELECT unnest(generate_series(0, 6)) AS i) t
    ),
    wau AS (
      SELECT c.wday AS day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
      FROM contrib c CROSS JOIN span s
      WHERE c.wday BETWEEN s.lo AND s.hi
      GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau,
           FLOOR(CAST(d.dau AS DOUBLE) / w.wau * 1e4 + 0.5) / 1e4
             AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active users: DAU, trailing-7-day WAU, and the DAU/WAU
    stickiness ratio — the product-health triple. Rolling COUNT DISTINCT
    has no windowed form, so WAU uses the textbook scale-out: each
    (user, active-day) row CONTRIBUTES to the 7 window-days it falls in
    (a bounded 7× explode of the deduped activity frame, NOT of the raw
    log), then one distinct aggregate keyed by day. Scale: activity is
    one row per (user, day); the explode multiplies by the fixed window
    length only, and both aggregates are map-side combinable."""
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    span = activity.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    dau = activity.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    contrib = activity.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("i")).alias("wday"))
    wau = (
        contrib.crossJoin(F.broadcast(span))
        .filter(F.col("wday").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("wday").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (
            F.floor(
                F.col("dau").cast("double") / F.col("wau") * 1e4 + F.lit(0.5)
            )
            / 1e4
        ).alias("stickiness"),
    )


# --- robust statistics: trimmed mean ----------------------------------------


@register(
    "a_trimmed_mean",
    tags=("aggregate", "statistics", "robust"),
    oracle="""
    WITH fences AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           FLOOR(AVG(l.l_extendedprice) * 1e4 + 0.5) / 1e4
             AS trimmed_mean,
           FLOOR(MIN(f.lo) * 1e4 + 0.5) / 1e4 AS fence_lo,
           FLOOR(MIN(f.hi) * 1e4 + 0.5) / 1e4 AS fence_hi
    FROM lineitem l JOIN fences f USING (l_returnflag)
    WHERE l.l_extendedprice >= f.lo AND l.l_extendedprice <= f.hi
    GROUP BY 1
    """,
)
def a_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per group: average over the inner 90% (exact
    interpolated percentile fences, inclusive) — the robust location
    estimate that survives fat tails and sensor spikes, next to
    a_mad_robust's dispersion. Two passes: a per-group fence frame
    (tiny, broadcast) then one filtered aggregate. Fences via the
    sort-based exact percentile (functions.percentiles — bit-identical
    to the buffering `percentile` aggregate, ~2× faster at sf0.1 and
    spill-safe at scale; r14)."""
    li = load_table(spark, sf_dir, "lineitem")
    fences = group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [0.05, 0.95], ["lo", "hi"]
    )
    r4_ = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (
        li.join(F.broadcast(fences), "l_returnflag")
        .filter(
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") <= F.col("hi"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            r4_(F.avg("l_extendedprice")).alias("trimmed_mean"),
            r4_(F.min("lo")).alias("fence_lo"),
            r4_(F.min("hi")).alias("fence_hi"),
        )
    )


# --- SemDeDup: semantic dedup via cluster-then-pairwise ---------------------

_SD_K = 8
_SD_ITERS = 3
_SD_D = 32
_SD_T = 0.97
# Max-cluster fence: within-cluster pairwise is O(|cluster|²), so one
# runaway cluster (boilerplate pages all landing in the same centroid)
# would dominate the whole job at scale. Clusters above the cap are
# deterministically sub-banded by a hash of vec_id into ceil(size/cap)
# blocks and pairs compared only within a block — the same bounded-buffer
# doctrine as jaccard_pairs' max_df fence. Near-dup pairs split across
# blocks of an over-cap cluster are missed, which is SemDeDup's own
# recall-for-scale trade extended one level down; at the fixture SFs
# (≤5k docs, 8 clusters) no cluster reaches the cap, so the fence is
# output-neutral there — but BOTH engines always compute the banding, so
# the oracle stays exact even if a degenerate clustering concentrates
# everything in one cell.
_SD_CAP = 2000


def semdedup_drop_pairs(
    withn: DataFrame, threshold: float, cap: int, d: int | None = None
) -> DataFrame:
    """The fenced within-cluster pairwise stage of SemDeDup: given
    (vec_id, cluster_id, v, nv) rows, return the distinct vec_ids to drop
    (the higher id of every ≥-threshold cosine pair), with clusters above
    ``cap`` sub-banded so no join block exceeds ~cap² pairs.

    ``d`` (r14): when the vector dimension is statically known, the
    per-pair dot product unrolls to d codegen'd element_at products
    (functions.vectors.sql_dot_unrolled — bit-identical sum order)
    instead of the interpreted aggregate fold, which at ~1.5 M pairs
    WAS the stage (14.6 s of the 26-32 s noop wall at sf0.1)."""
    from ..functions.vectors import sql_dot, sql_dot_unrolled

    # expr strings (construction-cost doctrine — lloyd_assign); trees
    # identical to the previous Column build, oracle-checked at 2 SFs.
    sizes = withn.groupBy("cluster_id").agg(F.expr("count(1) AS csize"))
    banded = withn.join(F.broadcast(sizes), "cluster_id").selectExpr(
        "vec_id",
        "cluster_id",
        "v",
        "nv",
        f"CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 7), 16, 10) "
        f"AS BIGINT) % ((csize + {cap - 1}) div {cap}) AS blk",
    )
    a = banded.selectExpr(
        "vec_id AS va", "cluster_id AS ca", "blk AS bka", "v AS ea",
        "nv AS na",
    )
    b = banded.selectExpr(
        "vec_id AS vb", "cluster_id AS cb", "blk AS bkb", "v AS eb",
        "nv AS nb",
    )
    dot_sql = (
        sql_dot_unrolled("ea", "eb", d) if d is not None else sql_dot("ea", "eb")
    )
    return (
        a.join(
            b,
            F.expr("ca = cb AND bka = bkb AND va < vb"),
        )
        .filter(f"{dot_sql} / (na * nb) >= {sql_double(threshold)}")
        .selectExpr("vb AS vec_id")
        .distinct()
    )


def _semdedup_oracle() -> str:
    """Unrolled replica of corpus_semdedup: hashed-BoW doc vectors →
    Lloyd's (k=8, 3 iters, same fixed-point contract as _kmeans_oracle)
    → within-cluster pairwise cosine ≥ threshold → drop higher ids."""
    k, d, iters, t = _SD_K, _SD_D, _SD_ITERS, _SD_T
    parts = [
        rf"""
    WITH tokb AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) % {d}
               AS b
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
                     AS tok
            FROM documents)
    ),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM tokb GROUP BY 1, 2),
    grid AS (
      SELECT d.doc_id, r.range AS b
      FROM (SELECT DISTINCT doc_id FROM tokb) d CROSS JOIN range({d}) r
    ),
    e AS MATERIALIZED (
      SELECT g.doc_id AS vec_id,
             list(CAST(COALESCE(bc.c, 0) AS DOUBLE) ORDER BY g.b) AS v
      FROM grid g LEFT JOIN bc ON g.doc_id = bc.doc_id AND g.b = bc.b
      GROUP BY 1
    ),
    xx AS MATERIALIZED (
      SELECT vec_id, list_dot_product(v, v) AS xx FROM e
    ),
    c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(v, x -> CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS c
      FROM e ORDER BY vec_id LIMIT {k}
    )"""
    ]
    for t_i in range(1, iters + 1):
        parts.append(
            f""",
    d{t_i} AS (
      SELECT e.vec_id, c.cid,
             xx.xx - 2 * list_dot_product(e.v,
               list_transform(c.c, y -> CAST(y AS DOUBLE) / 1e6))
             + list_dot_product(
               list_transform(c.c, y -> CAST(y AS DOUBLE) / 1e6),
               list_transform(c.c, y -> CAST(y AS DOUBLE) / 1e6)) AS dist
      FROM e CROSS JOIN c{t_i - 1} c JOIN xx ON e.vec_id = xx.vec_id
    ),
    a{t_i} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
                 AS rk
        FROM d{t_i}
      ) WHERE rk = 1
    ),
    u{t_i} AS MATERIALIZED (
      SELECT a.cid,
             list(CAST(FLOOR(m * 1e6 + 0.5) AS BIGINT) ORDER BY i) AS c
      FROM (
        SELECT a.cid, r.i, avg(e.v[r.i]) AS m
        FROM a{t_i} a JOIN e ON a.vec_id = e.vec_id
        CROSS JOIN range(1, {d + 1}) r(i)
        GROUP BY a.cid, r.i
      ) AS a
      GROUP BY a.cid
    ),
    c{t_i} AS MATERIALIZED (
      SELECT p.cid, COALESCE(u.c, p.c) AS c
      FROM c{t_i - 1} p LEFT JOIN u{t_i} u ON p.cid = u.cid
    )"""
        )
    parts.append(
        f""",
    asg AS MATERIALIZED (
      SELECT e.vec_id, a.cid, e.v,
             sqrt(list_dot_product(e.v, e.v)) AS nv
      FROM e JOIN a{iters} a ON e.vec_id = a.vec_id
    ),
    csizes AS (SELECT cid, COUNT(*) AS csize FROM asg GROUP BY 1),
    banded AS MATERIALIZED (
      SELECT asg.*,
             CAST(('0x' || substr(md5(CAST(asg.vec_id AS VARCHAR)), 1, 7))
                  AS BIGINT)
               % ((s.csize + {_SD_CAP - 1}) // {_SD_CAP}) AS blk
      FROM asg JOIN csizes s ON s.cid = asg.cid
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM banded a JOIN banded b
        ON a.cid = b.cid AND a.blk = b.blk AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nv * b.nv) >= {t}
    )
    SELECT n.vec_id AS doc_id, CAST(n.cid AS INT) AS cluster_id,
           (d.vec_id IS NULL) AS keep
    FROM asg n LEFT JOIN drops d ON n.vec_id = d.vec_id"""
    )
    return "".join(parts)


@register(
    "corpus_semdedup",
    bench=True,  # iterative tier measured officially since r5 (VERDICT r4 item #3)
    tags=("corpus", "dedup", "embedding", "iterative"),
    oracle=_semdedup_oracle(),
)
def corpus_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space semantic dedup —
    cluster the corpus with k-means, compare pairs ONLY within each
    cluster, drop all but the lowest id of every ≥-threshold pair. The
    document vectors here are 32-bucket hashed bag-of-words counts
    (deterministic, engine-reproducible; the fixture's word-salad docs
    share one vocabulary, so the background cosine sits near 0.75 while
    true near-dups sit ≥ 0.99 — threshold 0.97 splits them cleanly), and
    clustering is the shared ``lloyd_assign`` fixed-point contract, so a
    DuckDB replica reproduces the exact keep/drop vector. Cross-cluster
    near-dup pairs are invisible by design — SemDeDup's quadratic-to-
    Σ|cluster|² trade; that is what makes it run at web scale where
    all-pairs cannot. 100 TB: k·iters scan-aggregates for clustering,
    then pair space blocked per cluster — AND fenced: within-cluster
    pairwise assumes clusters stay ≲ _SD_CAP (=2000) docs; clusters above
    the cap are hash-sub-banded (semdedup_drop_pairs) so the worst block
    is ~cap², never |cluster|². The oracle computes the identical banding
    (output-neutral at fixture SFs where no cluster reaches the cap)."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # Hashed-BoW vectors built IN-ROW as a fold histogram: hash every
    # token to its bucket once, then ONE fold over the hash array
    # increments the matching slot of a 32-wide count vector — a MAP-ONLY
    # stage, where exploding to 1 row per token + a 32-conditional-sum
    # groupBy pays a corpus-sized shuffle. Counts are exact integers
    # either way — the oracle's explode/groupBy replica produces the
    # identical vectors; doc vectors need zero shuffles at 100 TB.
    # expr strings (construction-cost doctrine — lloyd_assign): identical
    # parsed trees to a Column-lambda build, fewer gateway calls.
    # Tokenizer composed from the shared TOKENS_SQL constant so it can
    # never drift from functions.text.tokens().
    from ..functions.text import TOKENS_SQL

    _HA = (
        f"transform({TOKENS_SQL.format(col='text')}, "
        f"t -> CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT) % {_SD_D})"
    )
    v = F.expr(
        f"aggregate({_HA}, array_repeat(0D, {_SD_D}), "
        "(acc, h) -> transform(acc, "
        "(c, i) -> CASE WHEN CAST(i AS BIGINT) = h THEN c + 1D ELSE c END))"
    )
    # e has many consumers (k-means init + per-round updates + the final
    # assignment + the pair stage); without a barrier each one re-inlines
    # the whole tokenize→hash→count chain (CollapseProject). The barrier
    # is a FANOUT (round-robin spread): one ReuseExchange'd shuffle that
    # a COUNT action can still prune through (an opaque lazy checkpoint
    # would block count's join-elimination + column pruning), and,
    # unlike a plain repartition Exchange that AQE coalesces to ONE
    # task, it keeps the fold histogram (tokens×32 interpreted ops per
    # doc) and every consumer's re-evaluation of it 32-way parallel.
    # Count vectors are exact integers and centroid updates snap to the
    # 1e-6 grid (lloyd_assign's cross-engine contract absorbs sum-order
    # noise by design), so partitioning cannot change the fixed point.
    from ..operators.dedup import fanout
    from ..operators.materialize import materialize

    e = fanout(docs.select("doc_id", "text")).select(
        F.col("doc_id").alias("vec_id"), v.alias("v")
    )
    asg = lloyd_assign(e, _SD_K, _SD_ITERS, pre_materialized=True)

    from ..functions.vectors import norm

    # norms once per DOC, not per pair (the oracle's nv column): the
    # pair stage then pays one dot product per pair instead of three.
    # Pairwise runs behind the _SD_CAP max-cluster fence (see
    # semdedup_drop_pairs) so a runaway cluster cannot go quadratic.
    withn = asg.withColumn("nv", norm("v"))
    drops = semdedup_drop_pairs(withn, _SD_T, _SD_CAP, d=_SD_D).withColumn(
        "dropped", F.lit(True)
    )
    # left side stays the PLAIN asg chain, not the checkpointed withn:
    # drops' right side is distinct, so a COUNT action eliminates this
    # left join and must then prune the left side down to cardinality —
    # possible through the lazy asg lineage, impossible through an
    # opaque checkpoint (measured: withn-as-left-side made count pay the
    # full k-means+pairs, 1.6 → 4.1 s — the bench-methodology number).
    # Under a real consumer asg re-reads the checkpointed e, so the
    # extra cost is one assignment pass, not a second vector build.
    return asg.join(drops, "vec_id", "left").select(
        F.col("vec_id").alias("doc_id"),
        "cluster_id",
        F.col("dropped").isNull().alias("keep"),
    )


# --- graph centrality: PageRank over the co-activity graph ------------------

_PR_ITERS = 8
_PR_DAMP = 0.85

def _pagerank_oracle() -> str:
    """Unrolled power-iteration replica: same graph construction, same
    1e-9 fixed-point quantization per iteration, same dangling-mass
    teleport redistribution."""
    d = _PR_DAMP
    parts = [
        f"""
    {coactivity_cte()},
    nodes AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    r0 AS (
      SELECT nodes.user_id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn
    )"""
    ]
    for t in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
    dm{t} AS (
      SELECT COALESCE(SUM(p.r), 0) AS dm
      FROM r{t - 1} p LEFT JOIN deg ON p.user_id = deg.src
      WHERE deg.src IS NULL
    ),
    inc{t} AS (
      SELECT e.dst, SUM(p.r / deg.deg) AS s
      FROM edges e
      JOIN r{t - 1} p ON e.src = p.user_id
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{t} AS MATERIALIZED (
      SELECT nodes.user_id,
             FLOOR(((1 - {d}) / nn.n
                    + {d} * (COALESCE(inc{t}.s, 0) + dm{t}.dm / nn.n))
                   * 1e9 + 0.5) / 1e9 AS r
      FROM nodes CROSS JOIN nn CROSS JOIN dm{t}
      LEFT JOIN inc{t} ON inc{t}.dst = nodes.user_id
    )"""
        )
    parts.append(
        f"""
    SELECT n.user_id,
           CAST(COALESCE(deg.deg, 0) AS BIGINT) AS out_degree,
           r{_PR_ITERS}.r AS pagerank
    FROM nodes n
    LEFT JOIN deg ON n.user_id = deg.src
    JOIN r{_PR_ITERS} ON n.user_id = r{_PR_ITERS}.user_id"""
    )
    return "".join(parts)


@register(
    "events_pagerank",
    bench=True,
    tags=("events", "graph", "iterative"),
    oracle=_pagerank_oracle(),
)
def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the user co-activity graph: 8 power
    iterations at damping 0.85 with dangling-rank mass redistributed
    through the teleport term, ranks snapped to a 1e-9 fixed-point grid
    per iteration so the DuckDB replica walks the bit-identical vector.

    Each iteration is one :func:`iterate` round: the broadcast row holds
    the contribution vector r/deg, the dangling mass and N, and every
    node sums its neighbours' contributions in-row. Per-node updates are
    pure row functions and the stats are order-insensitive aggregates,
    so partitioning cannot change any value. The adjacency stays lazy:
    its consumers sit inside the one final action, where ReuseExchange
    dedupes the adjacency subtree."""
    full = coactivity_adjacency(spark, sf_dir)
    n0 = full.agg(F.count(F.lit(1)).cast("double").alias("n"))
    r = full.crossJoin(F.broadcast(n0)).selectExpr("i", "deg", "1e0 / n AS r")
    # sql_double writes exponent-form literals that parse as DOUBLE (a
    # bare 0.85 parses as DECIMAL); 1 - _PR_DAMP is the IEEE double.
    _CONTRIB = "aggregate(nbrs, 0D, (acc, nb) -> acc + element_at(carr, nb + 1))"
    _UPDATE = (
        f"floor(({sql_double(1 - _PR_DAMP)} / n + {sql_double(_PR_DAMP)} "
        f"* ({_CONTRIB} + dm / n)) * 1e9 + 0.5E0) / 1e9 AS r"
    )
    # carr[i] = r/deg (0 for dangling nodes, whose index no neighbour
    # list references since the graph is symmetric), dm = dangling mass
    stats = (
        vertex_array("CASE WHEN deg > 0 THEN r / deg ELSE 0D END", "carr"),
        F.expr("sum(CASE WHEN deg = 0 THEN r ELSE 0D END) AS dm"),
        F.expr("CAST(count(1) AS DOUBLE) AS n"),
    )
    step = (F.col("i"), F.col("deg"), F.expr(_UPDATE))
    r = iterate(full, r, stats, lambda _t: step, _PR_ITERS)
    return full.join(r.drop("deg"), "i").select(
        "user_id",
        F.col("deg").cast("long").alias("out_degree"),
        F.col("r").alias("pagerank"),
    )


# --- graph traversal: single-source BFS hop counts --------------------------

_BFS_SRC = 0  # source user_id (exists at every fixture SF)
_BFS_ROUNDS = 4  # ≥ graph diameter at every fixture SF (dense co-activity)


def _bfs_step(t: int) -> tuple:
    """Round t's relaxation over the distance vector darr (-1 = unvisited).
    It names the round number, so it is parsed once per round."""
    return (
        F.col("i"),
        F.col("user_id"),
        F.expr(
            "CASE WHEN element_at(darr, i + 1) != -1 "
            "THEN element_at(darr, i + 1) "
            f"WHEN exists(nbrs, nb -> element_at(darr, nb + 1) = {t - 1}) "
            f"THEN {t} ELSE -1 END AS dist"
        ),
    )


def _bfs_oracle() -> str:
    """Unrolled frontier replica: same graph construction as the
    pagerank oracle, then _BFS_ROUNDS relaxation rounds over the -1
    sentinel distance vector — pure integer arithmetic, exact."""
    parts = [
        f"""
    {coactivity_cte()},
    nodes AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    d0 AS (
      SELECT user_id,
             CASE WHEN user_id = {_BFS_SRC} THEN 0 ELSE -1 END AS dist
      FROM nodes
    )"""
    ]
    for t in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f""",
    f{t} AS (
      SELECT DISTINCT e.dst
      FROM edges e JOIN d{t - 1} p ON e.src = p.user_id
      WHERE p.dist = {t - 1}
    ),
    d{t} AS MATERIALIZED (
      SELECT p.user_id,
             CASE WHEN p.dist <> -1 THEN p.dist
                  WHEN f{t}.dst IS NOT NULL THEN {t}
                  ELSE -1 END AS dist
      FROM d{t - 1} p LEFT JOIN f{t} ON f{t}.dst = p.user_id
    )"""
        )
    parts.append(
        f"""
    SELECT user_id, CAST(NULLIF(dist, -1) AS INT) AS hops
    FROM d{_BFS_ROUNDS}"""
    )
    return "".join(parts)


@register(
    "events_bfs_hops",
    tags=("events", "graph", "iterative"),
    oracle=_bfs_oracle(),
)
def events_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the user co-activity graph: hop distance
    from user _BFS_SRC (=0) for every user, _BFS_ROUNDS (=4) relaxation
    rounds (≥ the dense fixture graph's diameter), unreachable → NULL.
    Each round is one :func:`iterate` round over the distance vector
    (-1 = unvisited) with the relaxation run in-row by ``exists`` over
    the neighbour list. All-integer state, so the DuckDB frontier replica
    is exact with no quantization step."""
    full = coactivity_adjacency(spark, sf_dir)
    dist = full.select(
        "i",
        "user_id",
        F.when(F.col("user_id") == _BFS_SRC, F.lit(0))
        .otherwise(F.lit(-1))
        .alias("dist"),
    )
    dist = iterate(
        full, dist, [vertex_array("dist", "darr")], _bfs_step, _BFS_ROUNDS
    )
    return dist.selectExpr(
        "user_id", "CAST(nullif(dist, -1) AS INT) AS hops"
    )


# --- graph motifs: triangle counting / clustering coefficient ---------------

@register(
    "events_triangle_count",
    tags=("events", "graph"),
    oracle=f"""
    {coactivity_cte(TIGHT_BUCKET_S)},
    deg AS MATERIALIZED (
      SELECT src AS v, CAST(COUNT(*) AS INT) AS d FROM edges GROUP BY 1
    ),
    oe AS MATERIALIZED (
      SELECT e.src, e.dst
      FROM edges e
      JOIN deg ds ON ds.v = e.src
      JOIN deg dd ON dd.v = e.dst
      WHERE (ds.d, e.src) < (dd.d, e.dst)
    ),
    tri AS (
      SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      FROM oe e1
      JOIN oe e2 ON e1.dst = e2.src
      JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    contrib AS (
      SELECT u AS v FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri
    ),
    tric AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS tri FROM contrib GROUP BY 1),
    nodes AS (SELECT DISTINCT user_id FROM events)
    SELECT n.user_id,
           COALESCE(d.d, 0) AS deg,
           COALESCE(t.tri, 0) AS tri,
           CASE WHEN COALESCE(d.d, 0) >= 2
                THEN FLOOR(2.0 * COALESCE(t.tri, 0)
                           / (d.d * (d.d - 1)) * 1e4 + 0.5) / 1e4
                ELSE NULL END AS lcc
    FROM nodes n
    LEFT JOIN deg d ON d.v = n.user_id
    LEFT JOIN tric t ON t.v = n.user_id
    """,
)
def events_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    TIGHT user co-activity graph (same event_type within the same 300 s
    bucket — sparser than pagerank/BFS's hour-grain graph, which is too
    dense for motif counting at any scale). The classic degree-ordered
    orientation: orient every undirected edge from its (deg, id)-smaller
    endpoint, so each triangle is enumerated exactly ONCE as edge (u,v)
    plus the intersection of their out-neighbor sets, and the hot
    vertex's out-degree is bounded by O(sqrt(|E|)) on any graph — the
    scale trick that makes triangle counting survive power-law graphs
    at 100 TB (Suri & Vassilvitskii's MapReduce formulation, re-expressed
    as arrays). Plan: the shared adjacency compiles once; the |V|-sized
    degree vector broadcasts as one row; orientation + out-neighbor
    filtering run IN-ROW; the only motif-specific shuffle is one join of
    the oriented edge list with the oriented adjacency on the head
    vertex, plus the per-node contribution aggregate. All-integer state
    (tri, deg exact; lcc rounded 1e-4) → the SQL oracle is exact."""
    adj = coactivity_adjacency(spark, sf_dir, bucket_seconds=TIGHT_BUCKET_S)
    darr = adj.agg(vertex_array("deg", "degs"))
    # orientation: keep neighbors strictly (deg, i)-greater than self
    orient = adj.crossJoin(F.broadcast(darr)).select(
        "user_id",
        "i",
        "deg",
        F.filter(
            "nbrs",
            lambda nb: (F.element_at(F.col("degs"), nb + 1) > F.col("deg"))
            | (
                (F.element_at(F.col("degs"), nb + 1) == F.col("deg"))
                & (nb > F.col("i"))
            ),
        ).alias("onbrs"),
    )
    edges = orient.select(
        "i", "onbrs", F.explode("onbrs").alias("j")
    )
    head = orient.select(F.col("i").alias("j"), F.col("onbrs").alias("onbrs_j"))
    tri_e = (
        edges.join(head, "j")
        .select(
            "i",
            "j",
            F.array_intersect("onbrs", "onbrs_j").alias("common"),
        )
        .filter(F.size("common") > 0)
    )
    contrib = tri_e.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("i").alias("v"), F.size("common").alias("c")
                    ),
                    F.struct(
                        F.col("j").alias("v"), F.size("common").alias("c")
                    ),
                ),
                F.transform(
                    "common",
                    lambda w: F.struct(
                        w.alias("v"), F.lit(1).alias("c")
                    ),
                ),
            )
        ).alias("t")
    ).select("t.v", "t.c")
    tric = contrib.groupBy("v").agg(F.sum("c").cast("long").alias("tri"))
    out = adj.join(tric, adj["i"] == tric["v"], "left")
    dd = F.col("deg")
    tri = F.coalesce(F.col("tri"), F.lit(0).cast("long"))
    return out.select(
        "user_id",
        dd.alias("deg"),
        tri.alias("tri"),
        F.when(
            dd >= 2,
            F.floor(2.0 * tri / (dd * (dd - 1)) * 1e4 + F.lit(0.5)) / 1e4,
        ).alias("lcc"),
    )


# --- interval algebra: merge overlapping spans ------------------------------


@register(
    "w_interval_merge",
    tags=("window", "events", "interval"),
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s_us,
             epoch_us(ts) + CAST(FLOOR(value * 6e7) AS BIGINT) AS e_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s_us, e_us,
             CASE WHEN s_us > COALESCE(MAX(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s_us, e_us,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s_us, event_id
               ROWS UNBOUNDED PRECEDING) AS island_id
      FROM flagged
    )
    SELECT user_id, CAST(island_id AS INT) AS island_id,
           MIN(s_us) AS start_us, MAX(e_us) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM islands
    GROUP BY 1, 2
    """,
)
def w_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals (interval union): each event opens a
    span [ts, ts + value minutes] (integer-µs arithmetic, deterministic);
    per user, spans that overlap an earlier span's running max end join
    its island, merged islands report their hull and member count. The
    reservation/downtime/session-stitching primitive — the interval-
    algebra sibling of w_gaps_islands (which merges adjacent DAYS, not
    arbitrary spans). One shuffle on user_id; both windows stream with
    O(1) state per user (the running max end IS the sweep line)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    iv = ev.select(
        "user_id",
        "event_id",
        us.alias("s_us"),
        (us + F.floor(F.col("value") * 6e7).cast("long")).alias("e_us"),
    )
    order_w = Window.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max_end = F.max("e_us").over(
        order_w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        (
            F.col("s_us")
            > F.coalesce(prev_max_end, F.lit(-(2**63)))
        ).cast("int"),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island")
        .over(order_w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("s_us").alias("start_us"),
        F.max("e_us").alias("end_us"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )


# --- categorical inference: chi-square independence test --------------------


@register(
    "a_chi_square_independence",
    tags=("aggregate", "statistics", "inference"),
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT o.*,
             SUM(o.o) OVER (PARTITION BY event_type) AS row_tot,
             SUM(o.o) OVER (PARTITION BY dow) AS col_tot,
             SUM(o.o) OVER () AS n
      FROM obs o
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
           FLOOR(SUM(pow(o - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
                     / (CAST(row_tot AS DOUBLE) * col_tot / n))
                 * 1e6 + 0.5) / 1e6 AS chi2
    FROM margins
    """,
)
def a_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and day
    of week: Σ(O−E)²/E over the contingency table with margin-product
    expected counts — the categorical counterpart of a_welch_ttest (is
    behavior uniform across weekdays, or does the mix drift?). One
    shuffle to the ≤35-cell contingency frame; margins are windows over
    that tiny frame. Engine dayofweek conventions aligned as in
    ml_seasonal_naive_forecast."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    m = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("dow")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e_cnt = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        )
        .cast("long")
        .alias("dof"),
        (
            F.floor(
                F.sum(F.pow(F.col("o") - e_cnt, 2) / e_cnt) * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("chi2"),
    )


# --- nonparametric inference: two-sample Kolmogorov-Smirnov -----------------


@register(
    "a_ks_two_sample",
    tags=("aggregate", "statistics", "inference"),
    oracle="""
    WITH pts AS (
      SELECT value, CAST(event_type = 'purchase' AS INT) AS isa
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    nn AS (
      SELECT CAST(SUM(isa) AS DOUBLE) AS na,
             CAST(SUM(1 - isa) AS DOUBLE) AS nb
      FROM pts
    ),
    by_v AS (
      SELECT value, SUM(isa) AS ca, SUM(1 - isa) AS cb
      FROM pts GROUP BY 1
    ),
    ecdf AS (
      SELECT SUM(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM by_v
    )
    SELECT CAST(MIN(nn.na) AS BIGINT) AS n_a,
           CAST(MIN(nn.nb) AS BIGINT) AS n_b,
           FLOOR(MAX(ABS(cum_a / nn.na - cum_b / nn.nb)) * 1e6 + 0.5) / 1e6
             AS ks_d,
           FLOOR(1.358 * sqrt((MIN(nn.na) + MIN(nn.nb))
                              / (MIN(nn.na) * MIN(nn.nb))) * 1e6 + 0.5) / 1e6
             AS crit_05,
           MAX(ABS(cum_a / nn.na - cum_b / nn.nb))
             > 1.358 * sqrt((MIN(nn.na) + MIN(nn.nb))
                            / (MIN(nn.na) * MIN(nn.nb))) AS reject_05
    FROM ecdf CROSS JOIN nn
    """,
)
def a_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (purchase vs click values):
    D = max |ECDF_A − ECDF_B| over the pooled distinct values, with the
    α=0.05 asymptotic critical value 1.358·√((n_a+n_b)/(n_a·n_b)) and
    the reject decision — the distribution-free complement of
    a_welch_ttest (means) and dq_drift_psi (binned drift): KS sees ANY
    distributional difference, unbinned. Ties handled exactly (ECDFs
    step at distinct values by their full tied mass). Scale: one
    aggregate to the distinct-value frame, one ordered window over it —
    at web scale pre-bin values (the PSI grid) and KS on the binned
    ECDF, the standard trade."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "value", (F.col("event_type") == "purchase").cast("int").alias("isa")
    )
    nn = pts.agg(
        F.sum("isa").cast("double").alias("na"),
        F.sum(1 - F.col("isa")).cast("double").alias("nb"),
    )
    by_v = pts.groupBy("value").agg(
        F.sum("isa").alias("ca"), F.sum(1 - F.col("isa")).alias("cb")
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = by_v.select(
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    )
    d = F.max(F.abs(F.col("cum_a") / F.col("na") - F.col("cum_b") / F.col("nb")))
    crit = F.lit(1.358) * F.sqrt(
        (F.min("na") + F.min("nb")) / (F.min("na") * F.min("nb"))
    )
    r6_ = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        ecdf.crossJoin(F.broadcast(nn))
        .agg(
            F.min("na").cast("long").alias("n_a"),
            F.min("nb").cast("long").alias("n_b"),
            r6_(d).alias("ks_d"),
            r6_(crit).alias("crit_05"),
            (d > crit).alias("reject_05"),
        )
    )


# --- nonparametric inference: Mann-Whitney U --------------------------------


@register(
    "a_mann_whitney_u",
    tags=("aggregate", "statistics", "inference"),
    oracle="""
    WITH pts AS (
      SELECT value, CAST(event_type = 'purchase' AS INT) AS isa
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    by_v AS (
      SELECT value, SUM(isa) AS ca, COUNT(*) AS ct FROM pts GROUP BY 1
    ),
    ranked AS (
      SELECT ca, ct,
             COALESCE(SUM(ct) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM by_v
    ),
    agg AS (
      SELECT SUM(ca * (below + (ct + 1.0) / 2)) AS ranksum_a,
             SUM(ca) AS na,
             SUM(ct) - SUM(ca) AS nb,
             SUM(ct) AS n,
             SUM(CAST(ct AS DOUBLE) * ct * ct - ct) AS tie_term
      FROM ranked
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           FLOOR((ranksum_a - na * (na + 1.0) / 2) * 1e4 + 0.5) / 1e4 AS u_a,
           FLOOR((ranksum_a - na * (na + 1.0) / 2 - na * nb / 2.0)
                 / sqrt(na * nb / 12.0
                        * ((n + 1) - tie_term / (n * (n - 1.0))))
                 * 1e6 + 0.5) / 1e6 AS z_score
    FROM agg
    """,
)
def a_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (purchase vs click values) with exact
    midrank tie handling (average rank per distinct value from the
    running below-count) and the tie-corrected normal approximation z —
    the rank-based location test that, with a_welch_ttest (means) and
    a_ks_two_sample (whole distribution), completes the standard
    two-sample inference kit. Scale: one distinct-value aggregate + one
    ordered window over it; every moment is map-side combinable."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "value", (F.col("event_type") == "purchase").cast("int").alias("isa")
    )
    by_v = pts.groupBy("value").agg(
        F.sum("isa").alias("ca"), F.count(F.lit(1)).alias("ct")
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_v.select(
        "ca", "ct", F.coalesce(F.sum("ct").over(w), F.lit(0)).alias("below")
    )
    agg = ranked.agg(
        F.sum(F.col("ca") * (F.col("below") + (F.col("ct") + 1.0) / 2)).alias(
            "ranksum_a"
        ),
        F.sum("ca").alias("na"),
        (F.sum("ct") - F.sum("ca")).alias("nb"),
        F.sum("ct").alias("n"),
        F.sum(
            F.col("ct").cast("double") * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tie_term"),
    )
    u_a = F.col("ranksum_a") - F.col("na") * (F.col("na") + 1.0) / 2
    z = (u_a - F.col("na") * F.col("nb") / 2.0) / F.sqrt(
        F.col("na")
        * F.col("nb")
        / 12.0
        * (
            (F.col("n") + 1)
            - F.col("tie_term") / (F.col("n") * (F.col("n") - 1.0))
        )
    )
    return agg.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (F.floor(u_a * 1e4 + F.lit(0.5)) / 1e4).alias("u_a"),
        (F.floor(z * 1e6 + F.lit(0.5)) / 1e6).alias("z_score"),
    )


# --- audience overlap matrix -------------------------------------------------


@register(
    "events_audience_overlap",
    tags=("events", "analytics", "join"),
    oracle="""
    WITH a AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
              FROM a GROUP BY 1)
    SELECT x.event_type AS type_a, y.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           FLOOR(CAST(COUNT(*) AS DOUBLE)
                 / (MIN(sa.n) + MIN(sb.n) - COUNT(*)) * 1e4 + 0.5) / 1e4
             AS jaccard
    FROM a x
    JOIN a y ON x.user_id = y.user_id AND x.event_type < y.event_type
    JOIN sizes sa ON sa.event_type = x.event_type
    JOIN sizes sb ON sb.event_type = y.event_type
    GROUP BY 1, 2
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience-overlap matrix: for every pair of event types, the
    shared-user count and audience Jaccard — the segmentation view whose
    sketched twin is a_kmv_distinct (KMV synopses intersect without
    rescanning; this is the exact reference the sketch trades against).
    Self-join keyed on user_id (co-grouped, one shuffle); type pairs per
    user are bounded by the type cardinality, not the log."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select("event_type", "user_id").distinct()
    sizes = a.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    x = a.select(F.col("event_type").alias("type_a"), "user_id")
    y = a.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = x.join(y, "user_id").filter(F.col("type_a") < F.col("type_b"))
    common = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return (
        common.join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_a")
                        .withColumnRenamed("n", "n_a")),
            "type_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "type_b")
                        .withColumnRenamed("n", "n_b")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_common",
            (
                F.floor(
                    F.col("n_common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("jaccard"),
        )
    )


# --- preference queries: 2-D skyline (Pareto frontier) ----------------------


@register(
    "o_skyline_pareto",
    tags=("analytics", "window", "preference"),
    oracle="""
    WITH pts AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS freq,
             FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS monetary
      FROM orders GROUP BY 1
    ),
    by_x AS (
      SELECT freq, MAX(monetary) AS maxy FROM pts GROUP BY 1
    ),
    lvl AS (
      SELECT freq, maxy,
             MAX(maxy) OVER (ORDER BY freq DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS maxy_higher
      FROM by_x
    )
    SELECT p.o_custkey, p.freq, p.monetary
    FROM pts p JOIN lvl ON p.freq = lvl.freq
    WHERE (lvl.maxy_higher IS NULL OR p.monetary > lvl.maxy_higher)
      AND p.monetary >= lvl.maxy
    """,
)
def o_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) over customers scored by order
    frequency × total spend: the preference-query operator (Börzsönyi et
    al. 2001) returning every customer not dominated on both axes. NOT
    the quadratic NOT-EXISTS formulation — the sort-based one: collapse
    to per-frequency maxima, then a running max over descending
    frequency marks each level's bar; a point survives iff it clears the
    bar of all strictly-better frequencies and is its own level's
    maximum (ties at the frontier corner all survive, per the
    ≥-all/&gt;-one domination definition). Scale: one per-customer
    aggregate, one tiny per-level frame with an ordered window — the
    d>2 generalization block-partitions on a grid, the standard trade."""
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        (F.floor(F.sum("o_totalprice") * 1e2 + F.lit(0.5)) / 1e2).alias(
            "monetary"
        ),
    )
    by_x = pts.groupBy("freq").agg(F.max("monetary").alias("maxy"))
    w = Window.orderBy(F.col("freq").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    lvl = by_x.withColumn("maxy_higher", F.max("maxy").over(w))
    return (
        pts.join(F.broadcast(lvl), "freq")
        .filter(
            (F.col("maxy_higher").isNull() | (F.col("monetary") > F.col("maxy_higher")))
            & (F.col("monetary") >= F.col("maxy"))
        )
        .select("o_custkey", "freq", "monetary")
    )


# --- econometrics: price elasticity of demand -------------------------------


@register(
    "ml_price_elasticity",
    tags=("ml", "statistics", "classic"),
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           FLOOR(regr_slope(ln(CAST(l_quantity AS DOUBLE)),
                            ln(l_extendedprice / l_quantity))
                 * 1e6 + 0.5) / 1e6 AS elasticity,
           FLOOR(regr_r2(ln(CAST(l_quantity AS DOUBLE)),
                         ln(l_extendedprice / l_quantity))
                 * 1e6 + 0.5) / 1e6 AS fit_r2
    FROM lineitem
    WHERE l_quantity > 0 AND l_extendedprice > 0
    GROUP BY 1
    """,
)
def ml_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per return-flag segment: the log-log
    regression slope ∂ln(q)/∂ln(p) over (unit price, quantity) pairs —
    the canonical econometric coefficient (elastic below −1, inelastic
    above), fitted with the built-in regr_* aggregates in one grouped
    pass. TPC-H's synthetic independence shows up honestly as slope ≈ 0
    with tiny R² — the estimator exposes that the generator priced
    without demand response, which is exactly what the diagnostic is
    for. Map-side combinable; no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    lnq = F.log(F.col("l_quantity").cast("double"))
    lnp = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    r6_ = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        li.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            r6_(F.regr_slope(lnq, lnp)).alias("elasticity"),
            r6_(F.regr_r2(lnq, lnp)).alias("fit_r2"),
        )
    )


# --- dedup observability: similarity histogram ------------------------------


@register(
    "dedup_similarity_histogram",
    tags=("dedup", "corpus", "observability"),
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
    ),
    sh_all AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS sh
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, len(words) - 2)) AS i) t
    ),
    sh AS (
      SELECT doc_id, sh FROM sh_all
      QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 1000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    j AS (
      SELECT CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jac
      FROM common
      JOIN sizes na ON doc_a = na.doc_id
      JOIN sizes nb ON doc_b = nb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.5
    )
    SELECT LEAST(CAST(FLOOR(jac * 10) AS INT), 9) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(MIN(jac) * 1e4 + 0.5) / 1e4 AS min_jaccard,
           FLOOR(MAX(jac) * 1e4 + 0.5) / 1e4 AS max_jaccard
    FROM j GROUP BY 1
    """,
)
def dedup_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-mass histogram of the verified near-dup pairs (0.1-wide
    Jaccard bands): the observability view that tells an operator where
    the corpus's duplication lives relative to the 0.5 threshold — mass
    piled at the boundary means the threshold (and the LSH banding's
    recall at that threshold) is load-bearing; mass at 0.9+ means dedup
    decisions are insensitive to it. Runs the exact verifier (same plan
    as dedup_ngram_jaccard) and reduces to ≤10 band rows — at 100 TB
    this is the cheap audit run BEFORE committing to a banding scheme."""
    from ..operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5, max_df=1000)
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    banded = pairs.select(
        F.least(F.floor(jac * 10).cast("int"), F.lit(9)).alias("band"),
        jac.alias("jac"),
    )
    r4_ = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        r4_(F.min("jac")).alias("min_jaccard"),
        r4_(F.max("jac")).alias("max_jaccard"),
    )


# --- A/B inference: two-proportion z-test -----------------------------------


@register(
    "a_two_proportion_ztest",
    tags=("aggregate", "statistics", "inference"),
    oracle="""
    WITH assign AS (
      SELECT user_id,
             user_id % 2 AS grp,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  >= 14 AS INT) AS converted
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(converted) AS DOUBLE) AS x
      FROM assign GROUP BY 1
    ),
    w AS (
      SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b,
             (a.x + b.x) / (a.n + b.n) AS p_pool
      FROM s a JOIN s b ON a.grp = 0 AND b.grp = 1
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           FLOOR(x_a / n_a * 1e6 + 0.5) / 1e6 AS rate_a,
           FLOOR(x_b / n_b * 1e6 + 0.5) / 1e6 AS rate_b,
           FLOOR((x_a / n_a - x_b / n_b)
                 / sqrt(p_pool * (1 - p_pool) * (1 / n_a + 1 / n_b))
                 * 1e6 + 0.5) / 1e6 AS z_score
    FROM w
    """,
)
def a_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (≥ 14 purchases — the
    fixture's per-user event rate is SF-invariant, so this threshold
    sits near the median and keeps both rates interior; 'ever
    purchased' would be degenerate at p=1), groups assigned by user_id
    parity — the A/B-test
    primitive for RATES, completing the inference kit beside
    a_welch_ttest (means), a_mann_whitney_u (ranks),
    a_chi_square_independence (full contingency) and a_ks_two_sample
    (distributions). Pooled-variance z with exact integer counts; one
    per-user aggregate then a 2-row join."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id", (F.col("user_id") % 2).alias("grp")).agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= 14
        )
        .cast("int")
        .alias("converted")
    )
    s = assign.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("converted").cast("double").alias("x"),
    )
    a = s.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a")
    )
    b = s.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b")
    )
    w = a.crossJoin(b).withColumn(
        "p_pool", (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b"))
    )
    r6_ = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    ra = F.col("x_a") / F.col("n_a")
    rb = F.col("x_b") / F.col("n_b")
    z = (ra - rb) / F.sqrt(
        F.col("p_pool")
        * (1 - F.col("p_pool"))
        * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    return w.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        r6_(ra).alias("rate_a"),
        r6_(rb).alias("rate_b"),
        r6_(z).alias("z_score"),
    )


# --- time-series diagnostics: autocorrelation function ----------------------


@register(
    "ts_autocorrelation",
    tags=("timeseries", "statistics", "events"),
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT y,
             LAG(y, 1) OVER w AS l1, LAG(y, 2) OVER w AS l2,
             LAG(y, 3) OVER w AS l3, LAG(y, 4) OVER w AS l4,
             LAG(y, 5) OVER w AS l5, LAG(y, 6) OVER w AS l6,
             LAG(y, 7) OVER w AS l7
      FROM daily WINDOW w AS (ORDER BY day)
    ),
    long AS (
      SELECT 1 AS lag, y, l1 AS yl FROM lagged WHERE l1 IS NOT NULL
      UNION ALL SELECT 2, y, l2 FROM lagged WHERE l2 IS NOT NULL
      UNION ALL SELECT 3, y, l3 FROM lagged WHERE l3 IS NOT NULL
      UNION ALL SELECT 4, y, l4 FROM lagged WHERE l4 IS NOT NULL
      UNION ALL SELECT 5, y, l5 FROM lagged WHERE l5 IS NOT NULL
      UNION ALL SELECT 6, y, l6 FROM lagged WHERE l6 IS NOT NULL
      UNION ALL SELECT 7, y, l7 FROM lagged WHERE l7 IS NOT NULL
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(corr(y, yl) * 1e6 + 0.5) / 1e6 AS acf
    FROM long GROUP BY 1
    """,
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily series at lags 1-7 — the
    Box-Jenkins identification diagnostic run BEFORE choosing a model
    (strong lag-7 → weekly seasonality → ml_seasonal_naive; geometric
    decay from lag 1 → AR(1) → ml_ar1_forecast; neither → the Fourier
    tier). Seven LAGs in one window pass, unpivoted, reduced by the
    built-in corr aggregate. The series frame is one row per day;
    everything downstream of the first aggregate is negligible at any
    scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y", *[F.lag("y", k).over(w).alias(f"l{k}") for k in range(1, 8)]
    )
    stack_expr = "stack(7, " + ", ".join(
        f"{k}, l{k}" for k in range(1, 8)
    ) + ") AS (lag, yl)"
    long = lagged.select("y", F.expr(stack_expr)).filter(
        F.col("yl").isNotNull()
    )
    return long.groupBy(F.col("lag").cast("int").alias("lag")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.floor(F.corr("y", "yl") * 1e6 + F.lit(0.5)) / 1e6).alias("acf"),
    )


# --- time-series diagnostics: trend / seasonality strength ------------------


@register(
    "ts_strength_measures",
    tags=("timeseries", "statistics", "events"),
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tr AS (
      SELECT day, n,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN AVG(CAST(n AS DOUBLE)) OVER w END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    dt AS (
      SELECT *, CAST(dayofweek(day) AS INT) AS dow, n - trend AS detr
      FROM tr WHERE trend IS NOT NULL
    ),
    seas0 AS (SELECT dow, AVG(detr) AS s0 FROM dt GROUP BY 1),
    seas AS (
      SELECT dow, s0 - (SELECT AVG(s0) FROM seas0) AS seasonal FROM seas0
    ),
    parts AS (
      SELECT d.n, d.trend, s.seasonal,
             d.n - d.trend - s.seasonal AS resid,
             d.n - s.seasonal AS deseasonalized,  -- T + R
             d.n - d.trend AS detrended           -- S + R
      FROM dt d JOIN seas s USING (dow)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR(GREATEST(0, 1 - var_samp(resid) / var_samp(deseasonalized))
                 * 1e6 + 0.5) / 1e6 AS trend_strength,
           FLOOR(GREATEST(0, 1 - var_samp(resid) / var_samp(detrended))
                 * 1e6 + 0.5) / 1e6 AS seasonal_strength
    FROM parts
    """,
)
def ts_strength_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-based trend and seasonality STRENGTH (Hyndman's tsfeatures
    measures: 1 − Var(remainder)/Var(deseasonalized) for trend, 1 −
    Var(remainder)/Var(detrended) for seasonality, clipped at 0) — the
    two numbers that summarize a decomposition into 'should I model
    trend/seasonality at all', feeding the same model-choice loop as
    ts_autocorrelation and ml_forecast_backtest. Reuses
    ts_stl_decompose's exact component construction over full 7-day
    windows; single scalar row out."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "n",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.avg(F.col("n").cast("double")).over(w),
        ).alias("trend"),
    ).filter(F.col("trend").isNotNull())
    dt = tr.withColumn("dow", F.dayofweek("day")).withColumn(
        "detr", F.col("n") - F.col("trend")
    )
    seas0 = dt.groupBy("dow").agg(F.avg("detr").alias("s0"))
    grand = seas0.agg(F.avg("s0").alias("g"))
    seas = seas0.crossJoin(F.broadcast(grand)).select(
        "dow", (F.col("s0") - F.col("g")).alias("seasonal")
    )
    parts = dt.join(F.broadcast(seas), "dow").select(
        (F.col("n") - F.col("trend") - F.col("seasonal")).alias("resid"),
        (F.col("n") - F.col("seasonal")).alias("deseasonalized"),  # T + R
        (F.col("n") - F.col("trend")).alias("detrended"),  # S + R
    )
    r6_ = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return parts.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        r6_(
            F.greatest(
                F.lit(0),
                1 - F.var_samp("resid") / F.var_samp("deseasonalized"),
            )
        ).alias("trend_strength"),
        r6_(
            F.greatest(
                F.lit(0),
                1 - F.var_samp("resid") / F.var_samp("detrended"),
            )
        ).alias("seasonal_strength"),
    )


# --- data quality: one-pass column profile ----------------------------------

_PROFILE_COLS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            nmin, nmax = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
            tmin = tmax = "CAST(NULL AS VARCHAR)"
        elif kind == "date":
            nmin = nmax = "CAST(NULL AS DOUBLE)"
            tmin = f"CAST(CAST(MIN({c}) AS DATE) AS VARCHAR)"
            tmax = f"CAST(CAST(MAX({c}) AS DATE) AS VARCHAR)"
        else:
            nmin = nmax = "CAST(NULL AS DOUBLE)"
            tmin, tmax = f"MIN({c})", f"MAX({c})"
        parts.append(
            f"""
            SELECT '{c}' AS col,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
                   CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
                   {nmin} AS num_min, {nmax} AS num_max,
                   {tmin} AS txt_min, {tmax} AS txt_max
            FROM orders
            """
        )
    return " UNION ALL ".join(parts)


@register(
    "dq_column_profile",
    tags=("dq", "aggregate", "audit"),
    oracle=_profile_oracle(),
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of ``orders`` — the ANALYZE-TABLE / data-
    catalog primitive: per column, row count, null count, exact distinct
    count, and type-appropriate min/max (numeric as double, temporal as
    ISO date string, text as binary-collation string — both engines
    default to binary collation, so string min/max agree byte-for-byte).
    The engine story is the plan shape: Spark computes EVERY column's
    stats in ONE scan and one aggregate (the multi-distinct Expand
    rewrite — each input row fans out once per distinct-aggregate, then
    partial-aggregates map-side), where the naive formulation (and the
    oracle, necessarily) runs one scan per column and unions. At 100 TB
    the single-scan shape is the difference between 1x and 6x I/O; for
    wider tables or when exactness is negotiable, the HLL tier
    (a_hll_sketch_distinct) replaces Expand with one sketch per column
    and no fan-out. Output unpivots driver-side-free via stack()."""
    orders = load_table(spark, sf_dir, "orders")
    aggs: list = [F.count(F.lit(1)).cast("long").alias("n")]
    for c, kind in _PROFILE_COLS:
        aggs.append(F.count(c).cast("long").alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).cast("long").alias(f"nd_{c}"))
        if kind == "num":
            aggs.append(F.min(c).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"mx_{c}"))
        elif kind == "date":
            aggs.append(
                F.min(F.col(c).cast("date")).cast("string").alias(f"mn_{c}")
            )
            aggs.append(
                F.max(F.col(c).cast("date")).cast("string").alias(f"mx_{c}")
            )
        else:
            aggs.append(F.min(c).alias(f"mn_{c}"))
            aggs.append(F.max(c).alias(f"mx_{c}"))
    one = orders.agg(*aggs)
    rows = []
    for c, kind in _PROFILE_COLS:
        num_min = f"mn_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        num_max = f"mx_{c}" if kind == "num" else "CAST(NULL AS DOUBLE)"
        txt_min = f"mn_{c}" if kind != "num" else "CAST(NULL AS STRING)"
        txt_max = f"mx_{c}" if kind != "num" else "CAST(NULL AS STRING)"
        rows.append(
            f"struct('{c}' AS col, n, n - nn_{c} AS n_null, "
            f"nd_{c} AS n_distinct, {num_min} AS num_min, "
            f"{num_max} AS num_max, {txt_min} AS txt_min, "
            f"{txt_max} AS txt_max)"
        )
    return one.select(
        F.explode(F.expr("array(" + ", ".join(rows) + ")")).alias("r")
    ).select("r.*")


# --- market-basket association rules -----------------------------------------


@register(
    "events_assoc_rules",
    tags=("events", "aggregate", "analytics"),
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    ),
    nb AS (
      SELECT CAST(COUNT(DISTINCT (user_id, day)) AS BIGINT) AS n
      FROM baskets
    ),
    item AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM baskets GROUP BY 1
    ),
    pair AS (
      SELECT a.event_type AS ante, b.event_type AS cons,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.day = b.day
       AND a.event_type <> b.event_type
      GROUP BY 1, 2
    )
    SELECT p.ante, p.cons, p.c_ab,
           ia.c AS c_ante, ic.c AS c_cons,
           FLOOR(CAST(p.c_ab AS DOUBLE) / nb.n * 1e6 + 0.5) / 1e6 AS support,
           FLOOR(CAST(p.c_ab AS DOUBLE) / ia.c * 1e6 + 0.5) / 1e6 AS confidence,
           FLOOR((CAST(nb.n AS DOUBLE) * p.c_ab)
                 / (CAST(ia.c AS DOUBLE) * ic.c) * 1e6 + 0.5) / 1e6 AS lift
    FROM pair p
    JOIN item ia ON ia.event_type = p.ante
    JOIN item ic ON ic.event_type = p.cons
    CROSS JOIN nb
    """,
)
def events_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over behavioral baskets: a basket
    is the set of event types a user touches in one calendar day; every
    ordered type pair (antecedent -> consequent) reports joint count,
    support, confidence, and lift — the Apriori/market-basket family
    (recommendation, cross-sell, co-failure analysis) at its 2-itemset
    core. Engine shape: ONE groupBy((user, day)) builds baskets as
    collect_set (no DISTINCT pre-shuffle), ordered pairs expand IN-ROW
    (flatten/transform — never a baskets self-join like the oracle's),
    and item/pair counts are map-side-combinable aggregates over the
    basket frame; the tiny item table broadcasts onto the pair counts.
    At 100 TB: pair expansion is bounded by per-basket item count
    squared (baskets are per-user-day, naturally capped; a runaway
    basket gets the same max-size fence as jaccard's hot postings), and
    no shuffle carries more than one row per (basket, pair)."""
    ev = load_table(spark, sf_dir, "events")
    baskets = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.collect_set("event_type").alias("items"))
    nb = baskets.agg(F.count(F.lit(1)).cast("long").alias("n"))
    item = (
        baskets.select(F.explode("items").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pair = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, a -> "
                    "transform(filter(items, b -> b != a), "
                    "b -> struct(a as ante, b as cons))))"
                )
            ).alias("p")
        )
        .groupBy("p.ante", "p.cons")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    ia = item.select(F.col("event_type").alias("ante"), F.col("c").alias("c_ante"))
    ic = item.select(F.col("event_type").alias("cons"), F.col("c").alias("c_cons"))
    r6_ = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        pair.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .crossJoin(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            "c_ab",
            "c_ante",
            "c_cons",
            r6_(F.col("c_ab").cast("double") / F.col("n")).alias("support"),
            r6_(F.col("c_ab").cast("double") / F.col("c_ante")).alias(
                "confidence"
            ),
            r6_(
                (F.col("n").cast("double") * F.col("c_ab"))
                / (F.col("c_ante").cast("double") * F.col("c_cons"))
            ).alias("lift"),
        )
    )


# --- community detection: synchronous label propagation ---------------------

_LP_ROUNDS = 3


def _labelprop_oracle() -> str:
    """Unrolled synchronous-LPA replica: same co-activity graph as the
    pagerank oracle, then _LP_ROUNDS rounds where every node adopts its
    neighbors' most frequent label (count DESC, label ASC tie-break) —
    pure integer label arithmetic, exact."""
    parts = [
        f"""
    {coactivity_cte()},
    nodes AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    lab0 AS (SELECT user_id, user_id AS lab FROM nodes)"""
    ]
    for t in range(1, _LP_ROUNDS + 1):
        parts.append(
            f""",
    mode{t} AS (
      SELECT src AS user_id, lab FROM (
        SELECT e.src, l.lab,
               ROW_NUMBER() OVER (PARTITION BY e.src
                                  ORDER BY COUNT(*) DESC, l.lab ASC) AS rn
        FROM edges e JOIN lab{t - 1} l ON l.user_id = e.dst
        GROUP BY e.src, l.lab
      ) WHERE rn = 1
    ),
    lab{t} AS (
      SELECT v.user_id, COALESCE(m.lab, v.lab) AS lab
      FROM lab{t - 1} v LEFT JOIN mode{t} m ON m.user_id = v.user_id
    )"""
        )
    parts.append(
        f"""
    SELECT l.user_id, l.lab AS community,
           CAST(COUNT(*) OVER (PARTITION BY l.lab) AS BIGINT)
             AS community_size
    FROM lab{_LP_ROUNDS} l"""
    )
    return "".join(parts)


@register(
    "events_label_propagation",
    bench=True,
    tags=("events", "graph", "iterative"),
    oracle=_labelprop_oracle(),
)
def events_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation (Raghavan et
    al. 2007) over the user co-activity graph: every node starts as its
    own community (label = user_id) and for a fixed number of rounds
    simultaneously adopts the most frequent label among its neighbors
    (deterministic tie-break: highest count, then smallest label —
    synchronous + fixed rounds + total tie order makes the notoriously
    order-sensitive LPA bit-reproducible, the same determinism doctrine
    as the fixed-point k-means/PCA/pagerank tier). Complements the graph
    family: connected components finds reachability classes,
    LPA finds DENSITY clusters inside them.

    Each round is one :func:`iterate` round over the label vector; the
    neighbour-label mode runs in-row. The mode is a pure per-row function
    of the broadcast vector, so partitioning cannot change any value. The
    mode fold is O(deg) per node after an O(deg log deg) sort, bounded by
    the hot-bucket fence of the adjacency build."""
    full = coactivity_adjacency(spark, sf_dir)
    lab = full.select("i", F.col("user_id").cast("long").alias("lab"))
    # mode of neighbour labels: one run-length fold over the SORTED label
    # array. Runs arrive in ascending label order and the strict > keeps
    # the first (smallest) label among equally frequent ones. A node
    # without neighbours keeps its own label, element_at(larr, i + 1).
    c_mode = F.expr(
        "CASE WHEN size(nbrs) = 0 THEN element_at(larr, i + 1) ELSE "
        "aggregate(array_sort(transform(nbrs, nb -> element_at(larr, nb + 1))), "
        "struct(CAST(NULL AS BIGINT) AS cur, CAST(0 AS BIGINT) AS curc, "
        "CAST(NULL AS BIGINT) AS ml, CAST(0 AS BIGINT) AS mc), "
        "(acc, v) -> CASE WHEN v <=> acc.cur THEN struct("
        "acc.cur AS cur, acc.curc + CAST(1 AS BIGINT) AS curc, "
        "acc.ml AS ml, acc.mc AS mc) "
        "ELSE struct(v AS cur, CAST(1 AS BIGINT) AS curc, "
        "CASE WHEN acc.curc > acc.mc THEN acc.cur ELSE acc.ml END AS ml, "
        "CASE WHEN acc.curc > acc.mc THEN acc.curc ELSE acc.mc END AS mc) "
        "END, "
        "acc -> CASE WHEN acc.curc > acc.mc THEN acc.cur ELSE acc.ml END) "
        "END"
    ).alias("lab")
    step = (F.col("i"), c_mode)
    lab = iterate(
        full, lab, [vertex_array("lab", "larr")], lambda _t: step, _LP_ROUNDS
    )
    sized = lab.withColumn(
        "community_size",
        F.count(F.lit(1)).over(Window.partitionBy("lab")).cast("long"),
    )
    return full.select("user_id", "i").join(sized, "i").select(
        "user_id", F.col("lab").alias("community"), "community_size"
    )


# --- graph degeneracy: k-core peel ------------------------------------------

_KCORE_ROUNDS = 6  # fixpoint measured at round <= 4 on all fixture SFs


def _kcore_oracle() -> str:
    """Unrolled k-core peel replica: the triangle tier's tight co-activity
    graph (same 300 s bucket), k = max(lower median of initial degrees, 1),
    then _KCORE_ROUNDS simultaneous peel rounds — alive(t) = nodes with
    >= k neighbors alive(t-1). Membership chains are monotone by
    construction (src must be alive(t-1)), so the peel round is the first
    missing level. Pure integer arithmetic, exact."""
    parts = [
        f"""
    {coactivity_cte(TIGHT_BUCKET_S)},
    nodes AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    deg0 AS (
      SELECT n.user_id, COALESCE(d.c, 0) AS deg
      FROM nodes n LEFT JOIN (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS c FROM edges GROUP BY 1
      ) d ON d.src = n.user_id
    ),
    kv AS MATERIALIZED (
      SELECT GREATEST(deg, 1) AS k FROM (
        SELECT deg, ROW_NUMBER() OVER (ORDER BY deg) AS rn,
               COUNT(*) OVER () AS n
        FROM deg0
      ) WHERE rn = (n + 1) // 2
    ),
    a0 AS (SELECT user_id FROM deg0)"""
    ]
    for t in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
    a{t} AS MATERIALIZED (
      SELECT e.src AS user_id
      FROM edges e
      JOIN a{t - 1} s ON s.user_id = e.src
      JOIN a{t - 1} d ON d.user_id = e.dst
      CROSS JOIN kv
      GROUP BY e.src, kv.k
      HAVING COUNT(*) >= kv.k
    )"""
        )
    missing = " ".join(
        f"WHEN m{t}.user_id IS NULL THEN {t}" for t in range(1, _KCORE_ROUNDS + 1)
    )
    joins = "\n    ".join(
        f"LEFT JOIN a{t} m{t} ON m{t}.user_id = d.user_id"
        for t in range(1, _KCORE_ROUNDS + 1)
    )
    parts.append(
        f"""
    SELECT d.user_id, d.deg AS deg0, kv.k,
           CAST(CASE {missing} ELSE NULL END AS BIGINT) AS peel_round,
           m{_KCORE_ROUNDS}.user_id IS NOT NULL AS in_core,
           COALESCE(cd.c, 0) AS core_deg
    FROM deg0 d
    CROSS JOIN kv
    {joins}
    LEFT JOIN (
      SELECT e.src, CAST(COUNT(*) AS BIGINT) AS c
      FROM edges e JOIN a{_KCORE_ROUNDS} x ON x.user_id = e.dst
      GROUP BY 1
    ) cd ON cd.src = d.user_id"""
    )
    return "".join(parts)


@register(
    "events_kcore_peel",
    tags=("events", "graph", "iterative"),
    oracle=_kcore_oracle(),
)
def events_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel (onion decomposition) of the tight co-activity graph:
    with k = max(lower median of initial degrees, 1) — data-relative
    because the fixture's degree scale grows ~10x per SF — nodes with
    fewer than k alive neighbors peel SIMULTANEOUSLY each round
    (Seidman 1983's k-core by synchronous deletion; Batagelj-Zaversnik
    peels one node at a time, the synchronous variant is the
    fixed-round, bit-reproducible formulation). Output per node: initial
    degree, k, the peel round it fell (NULL = survives all rounds = the
    k-core), core membership, and its degree into the final core — the
    engagement-tier 'onion layer' label a retention model uses, and the
    densest-region extractor the graph tier was missing (components =
    reachability, LPA = density clusters, triangles = local motifs,
    k-core = global coreness).

    Each round is one :func:`iterate` round over the layer vector
    (0 = alive, else the removal round); the alive-degree filter runs
    in-row. Monotone state (peeled stays peeled) makes the fixed
    _KCORE_ROUNDS a safe overshoot of the measured fixpoint (<= 4 at all
    fixture SFs; convergence asserted in tests)."""
    full = coactivity_adjacency(spark, sf_dir, bucket_seconds=TIGHT_BUCKET_S)
    kf = full.agg(
        F.greatest(
            F.element_at(
                F.array_sort(F.collect_list("deg")),
                ((F.count(F.lit(1)) + 1) / F.lit(2)).cast("int"),
            ),
            F.lit(1),
        ).cast("long").alias("k")
    )
    # k rides on every adjacency row
    adj = full.crossJoin(F.broadcast(kf))
    state = full.select("i", F.lit(0).cast("long").alias("layer"))
    c_lvec = vertex_array("layer", "larr")
    # the peel names the round number, so it is parsed once per round
    _PEEL = (
        "CAST(CASE WHEN element_at(larr, i + 1) != 0 "
        "THEN element_at(larr, i + 1) "
        "WHEN size(filter(nbrs, nb -> element_at(larr, nb + 1) = 0)) >= k "
        "THEN 0 ELSE {t} END AS BIGINT) AS layer"
    )
    state = iterate(
        adj,
        state,
        [c_lvec],
        lambda t: (F.col("i"), F.expr(_PEEL.format(t=t))),
        _KCORE_ROUNDS,
    )
    return (
        adj.crossJoin(F.broadcast(state.agg(c_lvec)))
        .selectExpr(
            "user_id",
            "CAST(deg AS BIGINT) AS deg0",
            "k",
            "CASE WHEN element_at(larr, i + 1) != 0 "
            "THEN element_at(larr, i + 1) END AS peel_round",
            "(element_at(larr, i + 1) = 0) AS in_core",
            "CAST(size(filter(nbrs, nb -> element_at(larr, nb + 1) = 0)) "
            "AS BIGINT) AS core_deg",
        )
    )


# --- behavioral sequence-pattern matching (MATCH_RECOGNIZE analog) -----------

# signup, then any run of clicks/views (no error, no other purchase), then
# purchase — the "clean conversion journey" motif. The alphabet is each
# event type's first letter (all distinct: c,p,e,s,v).
_SEQ_PATTERN = "s[cv]*p"


@register(
    "events_sequence_match",
    tags=("events", "window", "analytics"),
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(left(event_type, 1), '' ORDER BY ts, event_id)
               AS journey
      FROM events GROUP BY 1
    )
    SELECT user_id,
           CAST(length(journey) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(journey, '{_SEQ_PATTERN}'))
                AS BIGINT) AS n_matches,
           len(regexp_extract_all(journey, '{_SEQ_PATTERN}')) > 0 AS matched,
           regexp_extract(journey, '{_SEQ_PATTERN}') AS first_match,
           CAST(strpos(journey, regexp_extract(journey, '{_SEQ_PATTERN}'))
                AS BIGINT) AS first_pos
    FROM seq
    """,
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event journeys — the
    MATCH_RECOGNIZE / funnel-regex analog Spark SQL lacks: each user's
    events compress to an ordered type string (first letter per type;
    deterministic (ts, event_id) order), and the conversion motif
    '{_SEQ_PATTERN}' (signup → clicks/views only → purchase) is counted
    and located with ordinary regex functions. Regex determinism:
    the pattern is over a finite 5-letter alphabet with no alternation
    ambiguity, so leftmost-greedy matching (Java regex and DuckDB RE2
    agree) yields identical non-overlapping match sets. Complements
    events_funnel (stage progression counts) and events_top_sequences
    (frequent transitions) with arbitrary-motif matching. Engine shape:
    ONE groupBy(user) builds the journey in-row (sort_array of
    (ts, event_id, char) structs → join), then pure string expressions;
    per-user state is bounded by the journey length (cap journeys like
    the hot-bucket fences if a 100 TB user exceeds memory — the motif
    only needs the event-type stream, bytes per event)."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id",
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("journey")
    )
    pat = F.lit(_SEQ_PATTERN)
    first = F.regexp_extract("journey", _SEQ_PATTERN, 0)
    return seq.select(
        "user_id",
        F.length("journey").cast("long").alias("seq_len"),
        F.regexp_count("journey", pat).cast("long").alias("n_matches"),
        (F.regexp_count("journey", pat) > 0).alias("matched"),
        first.alias("first_match"),
        F.instr(F.col("journey"), first).cast("long").alias("first_pos"),
    )


# --- survival analysis: Kaplan-Meier time-to-repurchase ----------------------


@register(
    "events_kaplan_meier",
    tags=("events", "timeseries", "analytics"),
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE event_type = 'purchase'
    ),
    hz AS (SELECT MAX(day) AS horizon FROM d),
    gaps AS (
      SELECT user_id,
             date_diff('day',
                       LAG(day) OVER (PARTITION BY user_id ORDER BY day),
                       day) AS dur,
             1 AS ev
      FROM d
    ),
    tails AS (
      SELECT d.user_id,
             date_diff('day', MAX(d.day), MIN(hz.horizon)) AS dur,
             0 AS ev
      FROM d CROSS JOIN hz
      GROUP BY d.user_id
    ),
    durs AS (
      SELECT dur, ev FROM gaps WHERE dur IS NOT NULL
      UNION ALL
      SELECT dur, ev FROM tails WHERE dur > 0
    ),
    agg AS (
      SELECT dur, CAST(SUM(ev) AS BIGINT) AS d_events,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM durs GROUP BY dur
    ),
    risk AS (
      SELECT dur, d_events,
             CAST(SUM(c) OVER (ORDER BY dur
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk
      FROM agg
    ),
    km AS (
      SELECT dur, d_events, n_risk,
             CASE WHEN MAX(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END)
                    OVER (ORDER BY dur
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    = 1
                  THEN 0e0
                  ELSE exp(SUM(CASE WHEN d_events = n_risk THEN 0e0
                               ELSE ln(1e0 - CAST(d_events AS DOUBLE)
                                       / n_risk) END)
                           OVER (ORDER BY dur
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW))
             END AS surv
      FROM risk
    )
    SELECT CAST(dur AS BIGINT) AS duration_days, n_risk, d_events,
           FLOOR(surv * 1e6 + 0.5) / 1e6 AS survival
    FROM km WHERE d_events > 0
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator (Kaplan & Meier 1958) for
    time-to-repurchase: observed durations are gaps between a user's
    consecutive purchase days; each user's tail (last purchase to the
    global horizon = max purchase day) enters RIGHT-CENSORED — the churn
    / retention curve estimated the statistically correct way instead of
    naively dropping open intervals. S(t) = Π_{t_i <= t} (1 - d_i/n_i)
    over event times, with censored rows shrinking the risk set but
    contributing no factor (their ln-term is exactly ln(1) = 0, so the
    cumulative form needs no special-casing). Cross-engine: counts are
    exact integers; the product is exp(Σ ln(1 - d/n)) where each term is
    an identical double and both engines accumulate the ordered prefix
    window sequentially — residual libm/fold ulps sit far inside the r6
    grid. Engine shape: one distinct + one lag window per user partition
    builds durations, one groupBy(dur) collapses to the KM table, and
    the two cumulative windows run over DISTINCT DURATIONS ONLY (bounded
    by the horizon in days — tens of rows regardless of corpus size), so
    the single-partition window frame is metadata-scale by construction.
    At 100 TB: the only data-sized stages are per-user windows and the
    dur collapse."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    hz = d.agg(F.max("day").alias("horizon"))
    wu = Window.partitionBy("user_id").orderBy("day")
    gaps = d.select(
        F.datediff(F.col("day"), F.lag("day").over(wu)).alias("dur"),
        F.lit(1).alias("ev"),
    ).filter(F.col("dur").isNotNull())
    tails = (
        d.groupBy("user_id")
        .agg(F.max("day").alias("last_day"))
        .crossJoin(F.broadcast(hz))
        .select(
            F.datediff(F.col("horizon"), F.col("last_day")).alias("dur"),
            F.lit(0).alias("ev"),
        )
        .filter(F.col("dur") > 0)
    )
    agg = (
        gaps.unionByName(tails)
        .groupBy("dur")
        .agg(
            F.sum("ev").cast("long").alias("d_events"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    w_risk = Window.orderBy("dur").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = agg.withColumn(
        "n_risk", F.sum("c").over(w_risk).cast("long")
    ).withColumn(
        # a zero factor (d == n_risk, possible only once the risk set is
        # exhausted) would be ln(0): pin survival to exactly 0 from that
        # row on, and keep it out of the log sum — mirrored in the oracle
        "surv",
        F.when(
            F.max(
                F.when(F.col("d_events") == F.col("n_risk"), 1).otherwise(0)
            ).over(w_cum)
            == 1,
            F.lit(0.0),
        ).otherwise(
            F.exp(
                F.sum(
                    F.when(
                        F.col("d_events") == F.col("n_risk"), F.lit(0.0)
                    ).otherwise(
                        F.log(
                            F.lit(1.0)
                            - F.col("d_events").cast("double")
                            / F.col("n_risk")
                        )
                    )
                ).over(w_cum)
            )
        ),
    )
    return km.filter(F.col("d_events") > 0).select(
        F.col("dur").cast("long").alias("duration_days"),
        "n_risk",
        "d_events",
        r6(F.col("surv")).alias("survival"),
    )


# --- privacy audit: k-anonymity over quasi-identifiers -----------------------

_KANON_K = 5


@register(
    "dq_k_anonymity",
    tags=("dq", "aggregate", "privacy"),
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000e0) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, bal_band, n,
           n >= {_KANON_K} AS k_anonymous,
           CAST(CASE WHEN n >= {_KANON_K} THEN 0 ELSE n END AS BIGINT)
             AS rows_to_suppress,
           FLOOR(1e0 / n * 1e6 + 0.5) / 1e6 AS reidentification_risk
    FROM g
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer master's
    quasi-identifier combination (nation, market segment, account-balance
    band): every equivalence class is reported with its size, whether it
    meets k={k}, the row count a suppression pass would have to remove,
    and the worst-case re-identification risk 1/n — the privacy gate a
    pipeline runs BEFORE releasing or training on tabular microdata (the
    redaction tier handles free text; this is its structured twin).
    Engine shape: one map-side-combinable groupBy over the QI columns —
    a single shuffle carrying one row per equivalence class regardless
    of table size; generalization ladders (coarser bands) re-run the
    same plan with a different banding expression. At 100 TB this is
    the cheapest query in the privacy stack, by design."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "n",
        (F.col("n") >= _KANON_K).alias("k_anonymous"),
        F.when(F.col("n") >= _KANON_K, F.lit(0))
        .otherwise(F.col("n"))
        .cast("long")
        .alias("rows_to_suppress"),
        r6(F.lit(1.0) / F.col("n")).alias("reidentification_risk"),
    )


fmt_doc(dq_k_anonymity, k=_KANON_K)


# --- experimentation: CUPED variance-reduced lift readout --------------------


@register(
    "events_cuped_adjustment",
    tags=("events", "aggregate", "analytics"),
    oracle="""
    WITH span AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0,
             MIN(CAST(ts AS DATE))
               + CAST(FLOOR(date_diff('day', MIN(CAST(ts AS DATE)),
                                      MAX(CAST(ts AS DATE))) / 2e0)
                      AS BIGINT) * INTERVAL 1 DAY AS mid
      FROM events
    ),
    per_user AS (
      SELECT e.user_id,
             CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS variant,
             SUM(CASE WHEN CAST(e.ts AS DATE) <= s.mid
                      AND e.event_type = 'purchase'
                      THEN e.value ELSE 0e0 END) AS pre,
             SUM(CASE WHEN CAST(e.ts AS DATE) > s.mid
                      AND e.event_type = 'purchase'
                      THEN e.value ELSE 0e0 END) AS post
      FROM events e CROSS JOIN span s
      GROUP BY 1, 2
    ),
    pooled AS (
      SELECT covar_pop(pre, post) / var_pop(pre) AS theta,
             AVG(pre) AS pre_mean,
             corr(pre, post) AS rho
      FROM per_user
    )
    SELECT CAST(u.variant AS BIGINT) AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           FLOOR(AVG(u.post) * 1e4 + 0.5) / 1e4 AS mean_post,
           FLOOR(AVG(u.post - p.theta * (u.pre - p.pre_mean)) * 1e4 + 0.5)
             / 1e4 AS mean_adjusted,
           FLOOR(p.theta * 1e6 + 0.5) / 1e6 AS theta,
           FLOOR((1e0 - p.rho * p.rho) * 1e6 + 0.5) / 1e6
             AS residual_var_ratio
    FROM per_user u CROSS JOIN pooled p
    GROUP BY u.variant, p.theta, p.pre_mean, p.rho
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013) for an
    A/B readout: per-user purchase revenue splits into a PRE period
    (first half of the event span — the pre-experiment covariate) and a
    POST period (the experiment metric); the adjusted metric
    post − θ(pre − mean(pre)) with pooled θ = cov(pre,post)/var(pre)
    removes the pre-period component of the variance (residual ratio
    1 − ρ²). Variant assignment is the deterministic md5-parity bucket
    (the hashed-classifier trick — both engines derive it identically,
    no rand()). Doubles: θ/ρ come from each engine's one-pass co-moment
    accumulation and the adjusted means average engine-ordered sums —
    all output through the rounding grid (r4 means, r6 ratios), the
    standard sum-order contract. Engine shape: one groupBy(user) with
    conditional aggregates (the span scalar broadcast-crossed), one
    2-row pooled-moment aggregate broadcast back, one groupBy(variant)
    — three shuffles, each map-side combinable; nothing is ever
    per-event after the first aggregate. At 100 TB this is the
    experimentation readout shape: metric state is one (pre, post) pair
    per user."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.date_add(
            F.min(F.col("ts").cast("date")),
            F.floor(
                F.datediff(
                    F.max(F.col("ts").cast("date")),
                    F.min(F.col("ts").cast("date")),
                )
                / 2.0
            ).cast("int"),
        ).alias("mid"),
    )
    variant = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    day = F.col("ts").cast("date")
    is_p = F.col("event_type") == "purchase"
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id", variant.alias("variant"))
        .agg(
            F.sum(
                F.when(is_p & (day <= F.col("mid")), F.col("value")).otherwise(
                    0.0
                )
            ).alias("pre"),
            F.sum(
                F.when(is_p & (day > F.col("mid")), F.col("value")).otherwise(
                    0.0
                )
            ).alias("post"),
        )
    )
    pooled = per_user.agg(
        (F.covar_pop("pre", "post") / F.var_pop("pre")).alias("theta"),
        F.avg("pre").alias("pre_mean"),
        F.corr("pre", "post").alias("rho"),
    )
    return (
        per_user.crossJoin(F.broadcast(pooled))
        .groupBy("variant", "theta", "pre_mean", "rho")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            r4(F.avg("post")).alias("mean_post"),
            r4(
                F.avg(
                    F.col("post")
                    - F.col("theta") * (F.col("pre") - F.col("pre_mean"))
                )
            ).alias("mean_adjusted"),
        )
        .select(
            F.col("variant").cast("long").alias("variant"),
            "n_users",
            "mean_post",
            "mean_adjusted",
            r6(F.col("theta")).alias("theta"),
            r6(F.lit(1.0) - F.col("rho") * F.col("rho")).alias(
                "residual_var_ratio"
            ),
        )
    )


# --- link prediction: common-neighbors argmax + Adamic-Adar score ------------

# Per-hub contributor fence: each node contributes pairs among its FIRST
# _LINKPRED_MAX_NBRS neighbors (ascending id — deterministic), mirroring the
# standard bounded-neighborhood truncation that keeps hub fan-out O(cap²).
# Mirrored EXACTLY in the oracle, so the fence can never cause cross-engine
# divergence even when active (it is: tight-graph degrees reach ~400 at
# sf0.1). Round 9: 64 -> 32 (VERDICT r8 item #3) — the 10× probe showed the
# cap² term dominating events_jaccard_neighbors (61 M pair rows, 291 MB
# aggregate shuffle, 2.4-7× vs DuckDB); 32 keeps the argmax semantics
# (candidates still drawn from each via-node's 32 lowest-id neighbors,
# both engines identical) at 1/4 the pair volume. Combined with the
# unordered-pair generation below the expansion is 8× lighter.
_LINKPRED_MAX_NBRS = 32

def _contributor_pairs(sl0: DataFrame, *extra) -> DataFrame:
    """Candidate pairs (ia < ib) among each via node's sliced neighbours
    (``coactivity_sliced``'s sn), with ``extra`` columns of the via row.
    Per via row the pairs come out i ascending then b ascending, so float
    sums over them keep a fixed addend order. Two chained generators, not
    an in-row array of all cap²/2 structs. Via nodes with fewer than two
    neighbours contribute nothing."""
    # sl0 arrives as the 8-file slim checkpoint; unpinned, the cap² pair
    # fan-out would run on a handful of tasks
    sl = fanout(sl0, F.col("i")).select("i", "deg", "sn")
    return (
        sl.filter(F.col("deg") >= 2)
        .select("deg", F.posexplode("sn").alias("__i", "ia"), "sn")
        .select(
            "ia",
            F.explode(F.expr("slice(sn, __i + 2, size(sn))")).alias("ib"),
            *extra,
        )
    )


def _non_edges(spark: SparkSession, sf_dir: str, cand_u: DataFrame) -> DataFrame:
    """The unordered candidates (ia < ib, plus value columns) of ``cand_u``
    that are not tight co-activity edges, fanned out to both orientations.
    Counts and weight sums are orientation-symmetric (the via-node set for
    (a, b) equals that for (b, a)), so aggregating unordered pairs and
    fanning out afterwards is exact.

    Membership: the raw (si < di) co-activity rows stream map-side through
    the broadcast candidate keys: no |E|-sized shuffle and no |E|-sized
    hash build. Duplicate raw rows are harmless, since the anti join's
    hash build collapses them to <= |cand| keys; its shuffle_hash pin keeps
    the matched side off any broadcast. The broadcast bound is
    |cand| <= cap²/2 * |V| keys, 512x the |V|-sized maps at cap = 32;
    candidate sparsity keeps it small in practice (OPTIMIZATION_graph.md).
    If bucket density pushed |cand| toward the 8 GiB broadcast limit, the
    semi join takes the same shuffle_hash pin, trading one candidate-sized
    shuffle for the broadcast."""
    _, raw = coactivity_pairs(spark, sf_dir, TIGHT_BUCKET_S)
    matched = (
        raw.filter(F.col("si") < F.col("di"))
        .join(
            F.broadcast(
                cand_u.select(
                    F.col("ia").alias("si"), F.col("ib").alias("di")
                )
            ),
            ["si", "di"],
            "left_semi",
        )
        .withColumnsRenamed({"si": "ia", "di": "ib"})
    )
    kept = cand_u.join(
        matched.hint("shuffle_hash"), ["ia", "ib"], "left_anti"
    )
    vals = [c for c in cand_u.columns if c not in ("ia", "ib")]
    return kept.select(
        F.explode(
            F.array(
                F.struct(F.col("ia"), F.col("ib")),
                F.struct(F.col("ib").alias("ia"), F.col("ia").alias("ib")),
            )
        ).alias("p"),
        *vals,
    ).select("p.ia", "p.ib", *vals)


@register(
    "events_link_prediction",
    tags=("events", "graph", "analytics"),
    oracle=f"""
    {coactivity_cte(TIGHT_BUCKET_S)},
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    sliced AS (
      SELECT src, dst FROM (
        SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
               AS rn
        FROM edges
      ) WHERE rn <= {_LINKPRED_MAX_NBRS}
    ),
    contrib AS (
      SELECT a.dst AS ua, b.dst AS ub, 1e0 / ln(d.d) AS w
      FROM sliced a
      JOIN sliced b ON b.src = a.src AND b.dst > a.dst
      JOIN deg d ON d.src = a.src
    ),
    cand_u AS MATERIALIZED (
      SELECT ua, ub, CAST(COUNT(*) AS BIGINT) AS cn, SUM(w) AS score
      FROM contrib
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT ua, ub, cn, score FROM cand_u
      UNION ALL
      SELECT ub AS ua, ua AS ub, cn, score FROM cand_u
    ),
    nonadj AS (
      SELECT ua, ub, cn, score FROM cand
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.src = cand.ua AND e.dst = cand.ub
      )
    ),
    best AS (
      SELECT ua, ub, cn, score,
             ROW_NUMBER() OVER (PARTITION BY ua ORDER BY cn DESC, ub) AS rn
      FROM nonadj
    )
    SELECT ua AS user_id, ub AS predicted_user, cn AS common_neighbors,
           FLOOR(score * 1e6 + 0.5) / 1e6 AS aa_score
    FROM best WHERE rn = 1
    """,
)
def events_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the tight co-activity graph: for every user,
    the strongest NON-adjacent candidate by common-neighbor count
    (Liben-Nowell & Kleinberg 2003's CN baseline; deterministic
    (cn DESC, id ASC) argmax — pure integers, so the pick is bit-exact),
    with the Adamic-Adar score Σ 1/ln(deg(via)) reported alongside
    (engine-ordered float sum — reported through the r6 grid, never used
    for ordering). Hub fan-out is fenced: each 'via' node contributes
    pairs among its first {m} neighbors only (ascending id, mirrored in
    the oracle — the bounded-neighborhood truncation every web-scale CN
    implementation applies). Engine shape: the slim sliced-graph
    checkpoint (``coactivity_sliced``) compiles once and every consumer
    re-reads it; contributor pairs expand in-row as unordered (a < b)
    pairs, candidate aggregation is one map-side-combinable shuffle and
    is materialized, existing edges leave through :func:`_non_edges`,
    and the per-user argmax is a window. At 100 TB: pair volume is
    |V|*cap²/2 worst-case, the fence's purpose; the raw-pair stream is
    map-side only; everything else shuffles one row per surviving
    candidate."""
    sl0 = coactivity_sliced(spark, sf_dir, TIGHT_BUCKET_S, _LINKPRED_MAX_NBRS)
    contrib = _contributor_pairs(
        sl0, (F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("w")
    )
    # materialized: both the membership pass and the anti join read it;
    # lazy, the cap² expansion would run twice
    cand_u = materialize(
        contrib.groupBy("ia", "ib").agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum("w").alias("score"),
        ),
        "linkpred-cand",
    )
    cand = _non_edges(spark, sf_dir, cand_u)
    wb = Window.partitionBy("ia").orderBy(F.col("cn").desc(), F.col("ib"))
    best = cand.withColumn("rn", F.row_number().over(wb)).filter(
        F.col("rn") == 1
    )
    ids = sl0.select("i", "user_id")
    ia_map = ids.withColumnsRenamed({"i": "ia", "user_id": "user_id_a"})
    ib_map = ids.withColumnsRenamed({"i": "ib", "user_id": "user_id_b"})
    return (
        best.join(F.broadcast(ia_map), "ia")
        .join(F.broadcast(ib_map), "ib")
        .select(
            F.col("user_id_a").alias("user_id"),
            F.col("user_id_b").alias("predicted_user"),
            F.col("cn").alias("common_neighbors"),
            r6(F.col("score")).alias("aa_score"),
        )
    )


fmt_doc(events_link_prediction, m=_LINKPRED_MAX_NBRS)


# --- resampling inference: deterministic Poisson bootstrap -------------------

_BOOT_B = 100  # bootstrap replicas

# Poisson(1) CDF thresholds for the inverse-CDF draw (identical decimal
# literals parse to identical doubles on both engines; tail clamps at 8).
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253",
)


def _pois_case(u: str) -> str:
    """CASE chain mapping a uniform draw to a Poisson(1) weight."""
    whens = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {whens} ELSE 8 END"


@register(
    "a_bootstrap_ci",
    tags=("aggregate", "analytics", "stats"),
    oracle=f"""
    WITH p AS (
      SELECT event_id, value FROM events WHERE event_type = 'purchase'
    ),
    draws AS (
      SELECT b.b, p.value,
             {_pois_case(
                 "(CAST(('0x' || substr(md5(CAST(p.event_id AS VARCHAR)"
                 " || ':' || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT)"
                 " / 4294967296e0)")} AS w
      FROM p CROSS JOIN (
        SELECT unnest(generate_series(1, {_BOOT_B})) AS b
      ) b
    ),
    reps AS (
      SELECT b, SUM(w * value) / SUM(w) AS m
      FROM draws GROUP BY b HAVING SUM(w) > 0
    ),
    srt AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn,
             COUNT(*) OVER () AS nb
      FROM reps
    ),
    summ AS (
      SELECT AVG(m) AS mbar,
             sqrt(SUM((m - (SELECT AVG(m) FROM reps))
                      * (m - (SELECT AVG(m) FROM reps)))
                  / (COUNT(*) - 1)) AS se,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM reps
    ),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, AVG(value) AS mean_value
      FROM p
    )
    SELECT pt.n_rows, summ.nb AS n_replicas,
           FLOOR(pt.mean_value * 1e4 + 0.5) / 1e4 AS mean_value,
           FLOOR(summ.se * 1e6 + 0.5) / 1e6 AS bootstrap_se,
           FLOOR((SELECT m FROM srt WHERE rn = 3) * 1e4 + 0.5) / 1e4
             AS ci_lo,
           FLOOR((SELECT m FROM srt WHERE rn = 98) * 1e4 + 0.5) / 1e4
             AS ci_hi
    FROM pt CROSS JOIN summ
    """,
)
def a_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (the distributed-bootstrap standard: per-row
    Poisson(1) replica weights instead of global multinomial resampling,
    so no replica ever needs the whole sample co-located) for the mean
    purchase value: {b} replicas, weights drawn DETERMINISTICALLY by
    inverse-CDF over an md5 uniform keyed on (event_id, replica) — the
    house no-rand() doctrine, so both engines materialize the identical
    resample and the result is replay/speculation-safe. Reports the
    point estimate, bootstrap SE (sample stddev of replica means), and
    the percentile CI (3rd / 98th order statistics of the {b} replica
    means — the (Bα)+1 convention at α=0.025). Replica means carry
    engine-ordered sum ulps; they are ~SE apart, so their ORDER is
    stable and only the reported magnitudes lean on the rounding grid.
    Engine shape: one in-row fan-out of {b} (row, replica) weights, one
    map-side-combinable groupBy(replica) to {b} rows, then scalar
    passes — bootstrap at 100 TB is exactly this shape (the fan-out
    never shuffles raw rows; only {b} partial sums per partition
    move)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "value"
    )
    u = (
        "(CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':', "
        "CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296D)"
    )
    # fanout: the single-row-group events scan otherwise evaluates all
    # |purchases|×B md5 draws on one task (~2 s serialized, r14 profile).
    # Per-draw weights are pure functions of (event_id, b); replica-mean
    # sum-order ulps are this query's documented cross-engine tolerance.
    draws = fanout(p).select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
    ).withColumn("w", F.expr(_pois_case(u)))
    reps = (
        draws.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("value")).alias("sw"),
            F.sum("w").alias("tw"),
        )
        .filter(F.col("tw") > 0)
        .select("b", (F.col("sw") / F.col("tw")).alias("m"))
    )
    summ = reps.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.avg("m").alias("mbar"),
        F.sort_array(F.collect_list("m")).alias("ms"),
    ).select(
        "nb",
        "mbar",
        "ms",
        # nb < 2 (an empty slice) -> NULL se/CI like the oracle, not an
        # ANSI error from element_at on the empty ms (r12 empty-input
        # sweep); at any real SF nb = _BOOT_B and the guards are
        # constant-true.
        F.expr(
            "CASE WHEN nb >= 2 THEN "
            "sqrt(aggregate(ms, 0D, (acc, x) -> acc + (x - mbar) * (x - mbar))"
            " / (nb - 1)) END"
        ).alias("se"),
        F.expr("try_element_at(ms, 3)").alias("lo"),
        F.expr("try_element_at(ms, 98)").alias("hi"),
    )
    pt = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.avg("value").alias("mean_value"),
    )
    return pt.crossJoin(F.broadcast(summ)).select(
        "n_rows",
        F.col("nb").alias("n_replicas"),
        r4(F.col("mean_value")).alias("mean_value"),
        r6(F.col("se")).alias("bootstrap_se"),
        r4(F.col("lo")).alias("ci_lo"),
        r4(F.col("hi")).alias("ci_hi"),
    )


fmt_doc(a_bootstrap_ci, b=_BOOT_B)


# --- spectral analysis: discrete periodogram ---------------------------------

_PGRAM_MIN_P, _PGRAM_MAX_P = 2, 14  # candidate periods (days)
_PGRAM_TAU = "6.283185307179586"    # 2*pi as an exact shared literal


@register(
    "ts_periodogram",
    tags=("timeseries", "analytics", "aggregate"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS t,
             AVG(y) OVER (PARTITION BY event_type) AS ybar,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    terms AS (
      SELECT i.event_type, p.p, i.n,
             SUM((i.y - i.ybar) * cos({_PGRAM_TAU} * i.t / p.p)) AS a,
             SUM((i.y - i.ybar) * sin({_PGRAM_TAU} * i.t / p.p)) AS b
      FROM idx i CROSS JOIN (
        SELECT unnest(generate_series({_PGRAM_MIN_P}, {_PGRAM_MAX_P})) AS p
      ) p
      GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(p AS BIGINT) AS period_days,
           FLOOR((a * a + b * b) / n * 1e2 + 0.5) / 1e2 AS power
    FROM terms
    """,
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete periodogram of each event type's mean-removed daily
    series at candidate periods {lo}-{hi} days: power(p) = (a² + b²)/n
    with a = Σ ỹ_t·cos(2πt/p), b = Σ ỹ_t·sin(2πt/p) — the spectral
    seasonality detector (Schuster 1898) complementing the
    autocorrelation tier (ACF measures lag self-similarity; the
    periodogram measures oscillation energy, catching periods ACF
    smears). Cross-engine: t/p are integers, 2π is a shared exact
    literal, so trig arguments are identical doubles; per-term libm
    ulps and the engine-ordered sums both sit far inside the r2 grid on
    O(100)-magnitude powers. Engine shape: one groupBy((type, day)),
    one per-type window pass for (t, ȳ), then a map-side-combinable
    groupBy((type, period)) over the 13-way in-row period fan-out — at
    100 TB the fan-out multiplies the DAILY frame (one row per
    series-day), never raw events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    wt = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(wt).cast("long").alias("t"),
        F.avg("y").over(wa).alias("ybar"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    tau = float(_PGRAM_TAU)
    fan = idx.select(
        "event_type",
        "n",
        ((F.col("y") - F.col("ybar"))).alias("yd"),
        "t",
        F.explode(
            F.sequence(F.lit(_PGRAM_MIN_P), F.lit(_PGRAM_MAX_P))
        ).alias("p"),
    )
    terms = fan.groupBy("event_type", "p", "n").agg(
        F.sum(
            F.col("yd") * F.cos(F.lit(tau) * F.col("t") / F.col("p"))
        ).alias("a"),
        F.sum(
            F.col("yd") * F.sin(F.lit(tau) * F.col("t") / F.col("p"))
        ).alias("b"),
    )
    return terms.select(
        "event_type",
        F.col("p").cast("long").alias("period_days"),
        r2((F.col("a") * F.col("a") + F.col("b") * F.col("b")) / F.col("n")).alias(
            "power"
        ),
    )


fmt_doc(ts_periodogram, 
    lo=_PGRAM_MIN_P, hi=_PGRAM_MAX_P
)


# --- link prediction: neighborhood Jaccard argmax ----------------------------


@register(
    "events_jaccard_neighbors",
    tags=("events", "graph", "analytics"),
    oracle=f"""
    {coactivity_cte(TIGHT_BUCKET_S)},
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    sliced AS (
      SELECT src, dst FROM (
        SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
               AS rn
        FROM edges
      ) WHERE rn <= {_LINKPRED_MAX_NBRS}
    ),
    contrib AS (
      SELECT a.dst AS ua, b.dst AS ub
      FROM sliced a
      JOIN sliced b ON b.src = a.src AND b.dst > a.dst
    ),
    cand_u AS MATERIALIZED (
      SELECT ua, ub, CAST(COUNT(*) AS BIGINT) AS cn
      FROM contrib
      GROUP BY 1, 2
    ),
    cand0 AS (
      SELECT ua, ub, cn FROM cand_u
      UNION ALL
      SELECT ub AS ua, ua AS ub, cn FROM cand_u
    ),
    cand AS (
      SELECT ua, ub, cn FROM cand0
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.src = cand0.ua AND e.dst = cand0.ub
      )
    ),
    scored AS (
      SELECT cand.ua, cand.ub, cand.cn, da.d AS deg_a, db.d AS deg_b,
             CAST(cand.cn AS DOUBLE) / (da.d + db.d - cand.cn) AS jd
      FROM cand
      JOIN deg da ON da.src = cand.ua
      JOIN deg db ON db.src = cand.ub
    ),
    best AS (
      SELECT ua, ub, cn, deg_a, deg_b, jd,
             ROW_NUMBER() OVER (PARTITION BY ua ORDER BY jd DESC, ub) AS rn
      FROM scored
    )
    SELECT ua AS user_id, ub AS predicted_user, cn AS common_neighbors,
           deg_a, deg_b, FLOOR(jd * 1e6 + 0.5) / 1e6 AS jaccard
    FROM best WHERE rn = 1
    """,
)
def events_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the tight co-activity
    graph: for every user, the strongest NON-adjacent candidate by
    J = |N(a)∩N(b)| / (deg(a)+deg(b)−|N(a)∩N(b)|) — the degree-normalized
    complement to events_link_prediction's raw common-neighbor argmax
    (CN crowns hubs; Jaccard crowns twins). Shares the exact graph,
    hub-slice fence, and candidate machinery; the intersection size is
    counted over the SLICED neighbor lists while the union denominator
    uses the FULL degrees (mirrored verbatim in the oracle).

    Determinism: cn/degrees are exact integers and the ranking key
    cn/(da+db-cn) is ONE correctly-rounded IEEE division of exact
    integers - bit-identical in both engines - with ties broken by
    candidate id. Engine shape: events_link_prediction's, with the
    degree maps broadcast off the slim checkpoint."""
    sl0 = coactivity_sliced(spark, sf_dir, TIGHT_BUCKET_S, _LINKPRED_MAX_NBRS)
    cand_u = materialize(
        _contributor_pairs(sl0).groupBy("ia", "ib").agg(
            F.count(F.lit(1)).cast("long").alias("cn")
        ),
        "jacc-cand",
    )
    cand = _non_edges(spark, sf_dir, cand_u)
    degs = sl0.select("i", "deg")
    cand = (
        cand.join(
            F.broadcast(degs.withColumnsRenamed({"i": "ia", "deg": "deg_a"})), "ia"
        )
        .join(
            F.broadcast(degs.withColumnsRenamed({"i": "ib", "deg": "deg_b"})), "ib"
        )
        .withColumn(
            "jd",
            F.col("cn").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
        )
    )
    wb = Window.partitionBy("ia").orderBy(F.col("jd").desc(), F.col("ib"))
    best = cand.withColumn("rn", F.row_number().over(wb)).filter(F.col("rn") == 1)
    ids = sl0.select("i", "user_id")
    ia_map = ids.withColumnsRenamed({"i": "ia", "user_id": "user_id_a"})
    ib_map = ids.withColumnsRenamed({"i": "ib", "user_id": "user_id_b"})
    return (
        best.join(F.broadcast(ia_map), "ia")
        .join(F.broadcast(ib_map), "ib")
        .select(
            F.col("user_id_a").alias("user_id"),
            F.col("user_id_b").alias("predicted_user"),
            F.col("cn").alias("common_neighbors"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            (F.floor(F.col("jd") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "jaccard"
            ),
        )
    )
