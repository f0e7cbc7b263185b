"""Reference pipeline parity queries (SURVEY.md §3, milestone M2).

The reference's domain tables (forecasting_data / historical_data) are not in
the driver's fixture set, so each pipeline runs on its TPC-H analog with the
same shape: branch := l_suppkey, move_type := l_returnflag,
date := l_shipdate, count := l_quantity. The *plans* are generic over column
names (move_forecast_ind_spark.plans) — pointing them at the reference's real
tables is a column-mapping change only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..plans.forecast_tail import PHRASES, forecast_summary, forecast_tail
from ..plans.percentages import compute_percentages, month_grain_percentages
from ..plans.trends import historical_trends, trends_nested
from ..sources import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Shared oracle-SQL fragments (kept adjacent to the Spark plans they mirror).
# ---------------------------------------------------------------------------
_PCT_CTES = """
    pct_moves AS (
      SELECT l_suppkey                      AS branch,
             l_returnflag                   AS move_type,
             CAST(month(l_shipdate) AS INT) AS month,
             CAST(day(l_shipdate) AS INT)   AS day,
             FLOOR(SUM(l_quantity) * 1e2 + 0.5) / 1e2 AS move_count
      FROM lineitem
      GROUP BY 1, 2, 3, 4
    ),
    pct_totals AS (
      SELECT l_suppkey                      AS branch,
             CAST(month(l_shipdate) AS INT) AS month,
             CAST(day(l_shipdate) AS INT)   AS day,
             FLOOR(SUM(l_quantity) * 1e2 + 0.5) / 1e2 AS total_count
      FROM lineitem
      GROUP BY 1, 2, 3
      HAVING FLOOR(SUM(l_quantity) * 1e2 + 0.5) / 1e2 > 0
    ),
    pct_types AS (
      SELECT DISTINCT l_returnflag AS move_type FROM lineitem
    ),
    pct AS (
      SELECT t.branch, ty.move_type, t.month, t.day,
             COALESCE(m.move_count, 0e0) AS move_count, t.total_count,
             FLOOR((COALESCE(m.move_count, 0e0) / t.total_count * 1e2) * 1e4 + 0.5) / 1e4
               AS avg_percentage
      FROM pct_totals t
      CROSS JOIN pct_types ty
      LEFT JOIN pct_moves m
        ON m.branch = t.branch AND m.move_type = ty.move_type
       AND m.month = t.month AND m.day = t.day
    )"""

_MONTH_CTE = """
    month_pct AS (
      SELECT branch, move_type, month,
             FLOOR(AVG(move_count / total_count * 1e2) * 1e4 + 0.5) / 1e4
               AS month_avg_percentage
      FROM pct
      GROUP BY 1, 2, 3
    )"""


def _phrase_sql(band_expr: str, idx_expr: str) -> str:
    whens = []
    for b, bank in PHRASES.items():
        inner = (
            f"CASE ({idx_expr}) WHEN 0 THEN '{bank[0]}' "
            f"WHEN 1 THEN '{bank[1]}' ELSE '{bank[2]}' END"
        )
        whens.append(f"WHEN ({band_expr}) = '{b}' THEN {inner}")
    return "CASE " + " ".join(whens) + " END"


_BAND_SQL = (
    "CASE WHEN ABS(diff_pp) <= 5.0 THEN 'consistent' "
    "WHEN diff_pp > 5.0 THEN 'stronger' ELSE 'weaker' END"
)

_TAIL_SQL = f"""
    WITH {_PCT_CTES},
    {_MONTH_CTE},
    frame AS (
      SELECT b.branch,
             'R'                            AS move_type,
             DATE '1996-06-01'              AS input_date,
             CAST(d.d AS DATE)              AS ds,
             CAST(50 + ((b.branch * 7 + day(d.d)) % 50) AS DOUBLE) AS branch_forecast,
             CAST(month(d.d) AS INT)        AS month,
             CAST(day(d.d) AS INT)          AS day,
             CAST(month(DATE '1996-06-01') AS INT) AS imonth,
             CAST(day(DATE '1996-06-01') AS INT)   AS iday
      FROM (SELECT unnest(range(1, 11)) AS branch) b,
           (SELECT unnest(generate_series(DATE '1996-06-01', DATE '1996-06-07',
                                          INTERVAL 1 DAY)) AS d) d
    ),
    joined AS (
      SELECT f.branch, f.move_type, f.input_date, f.ds, f.branch_forecast,
             f.month, f.day,
             sp.avg_percentage        AS scale_day_avg,
             sm.month_avg_percentage  AS scale_month_avg,
             p.avg_percentage,
             m.month_avg_percentage
      FROM frame f
      LEFT JOIN pct sp
        ON f.branch = sp.branch AND f.move_type = sp.move_type
       AND f.imonth = sp.month AND f.iday = sp.day
      LEFT JOIN month_pct sm
        ON f.branch = sm.branch AND f.move_type = sm.move_type AND f.imonth = sm.month
      LEFT JOIN pct p
        ON f.branch = p.branch AND f.move_type = p.move_type
       AND f.month = p.month AND f.day = p.day
      LEFT JOIN month_pct m
        ON f.branch = m.branch AND f.move_type = m.move_type AND f.month = m.month
    ),
    scaled AS (
      SELECT branch, move_type, input_date, ds, branch_forecast, month, day,
             COALESCE(scale_day_avg, scale_month_avg, 1e0) AS pct_used,
             CAST(FLOOR(GREATEST(
               COALESCE(scale_day_avg, scale_month_avg, 1e0) / 1e2 * branch_forecast,
               0e0) + 0.5) AS BIGINT)                     AS predicted_moves,
             COALESCE(avg_percentage, month_avg_percentage, 1e0) AS hist_avg,
             CASE WHEN branch_forecast > 0
                  THEN CAST(FLOOR(GREATEST(
                         COALESCE(scale_day_avg, scale_month_avg, 1e0) / 1e2 * branch_forecast,
                         0e0) + 0.5) AS BIGINT) / branch_forecast * 1e2
                  ELSE 0e0 END                            AS implied
      FROM joined
    ),
    banded AS (
      SELECT *,
             FLOOR((implied - hist_avg) * 1e4 + 0.5) / 1e4 AS diff_pp
      FROM scaled
    ),
    tail AS (
      SELECT branch,
             move_type,
             input_date,
             ds,
             FLOOR(branch_forecast * 1e2 + 0.5) / 1e2   AS branch_forecast,
             FLOOR(pct_used * 1e4 + 0.5) / 1e4          AS pct_used,
             predicted_moves,
             FLOOR(hist_avg * 1e4 + 0.5) / 1e4          AS hist_avg,
             diff_pp,
             {_BAND_SQL}                                AS band,
             {_phrase_sql(_BAND_SQL, "(branch * 31 + month * 7 + day) % 3")}
               || ' (' || printf('%.1f', FLOOR(hist_avg * 1e1 + 0.5) / 1e1)
               || '% hist, ' || printf('%.1f', FLOOR(implied * 1e1 + 0.5) / 1e1)
               || '% now)'                              AS comment
      FROM banded
    )"""


def null_aware_tail_sql(frame: str = "frame") -> str:
    """The FULL forecast-tail oracle fragment, NULL-move_type aware —
    mirrors plans.forecast_tail.forecast_tail exactly (100% path, NULL
    hist_avg, zero diff_pp, the no-move-type phrase). Expects the ``pct``
    and ``month_pct`` CTEs plus a ``{frame}`` CTE with columns
    (branch, move_type, input_date, ds, branch_forecast, month, day,
    imonth, iday); emits joined/scaled/banded/tail CTEs."""
    from ..plans.forecast_tail import NO_MOVE_TYPE_PHRASE

    pct_used = (
        "CASE WHEN move_type IS NULL THEN 1e2 "
        "ELSE COALESCE(scale_day_avg, scale_month_avg, 1e0) END"
    )
    implied = (
        "CASE WHEN branch_forecast > 0 "
        "THEN predicted_moves / branch_forecast * 1e2 ELSE 0e0 END"
    )
    return f"""
    joined AS (
      SELECT f.branch, f.move_type, f.input_date, f.ds, f.branch_forecast,
             f.month, f.day,
             sp.avg_percentage        AS scale_day_avg,
             sm.month_avg_percentage  AS scale_month_avg,
             p.avg_percentage,
             m.month_avg_percentage
      FROM {frame} f
      LEFT JOIN pct sp
        ON f.branch = sp.branch AND f.move_type = sp.move_type
       AND f.imonth = sp.month AND f.iday = sp.day
      LEFT JOIN month_pct sm
        ON f.branch = sm.branch AND f.move_type = sm.move_type
       AND f.imonth = sm.month
      LEFT JOIN pct p
        ON f.branch = p.branch AND f.move_type = p.move_type
       AND f.month = p.month AND f.day = p.day
      LEFT JOIN month_pct m
        ON f.branch = m.branch AND f.move_type = m.move_type
       AND f.month = m.month
    ),
    scaled AS (
      SELECT branch, move_type, input_date, ds, branch_forecast, month, day,
             {pct_used} AS pct_used,
             CAST(FLOOR(GREATEST(({pct_used}) / 1e2 * branch_forecast,
                                 0e0) + 0.5) AS BIGINT) AS predicted_moves,
             CASE WHEN move_type IS NULL THEN NULL
                  ELSE COALESCE(avg_percentage, month_avg_percentage, 1e0)
             END AS hist_avg
      FROM joined
    ),
    banded AS (
      SELECT *,
             {implied} AS implied,
             CASE WHEN move_type IS NULL THEN 0e0
                  ELSE FLOOR((({implied}) - hist_avg) * 1e4 + 0.5) / 1e4
             END AS diff_pp
      FROM scaled
    ),
    tail AS (
      SELECT branch, move_type, input_date, ds,
             FLOOR(branch_forecast * 1e2 + 0.5) / 1e2   AS branch_forecast,
             FLOOR(pct_used * 1e4 + 0.5) / 1e4          AS pct_used,
             predicted_moves,
             FLOOR(hist_avg * 1e4 + 0.5) / 1e4          AS hist_avg,
             diff_pp,
             {_BAND_SQL}                                AS band,
             CASE WHEN move_type IS NULL THEN '{NO_MOVE_TYPE_PHRASE}'
                  ELSE {_phrase_sql(_BAND_SQL, "(branch * 31 + month * 7 + day) % 3")}
                    || ' (' || printf('%.1f', FLOOR(hist_avg * 1e1 + 0.5) / 1e1)
                    || '% hist, ' || printf('%.1f', FLOOR(implied * 1e1 + 0.5) / 1e1)
                    || '% now)'
             END                                        AS comment
      FROM banded
    )"""


# ---------------------------------------------------------------------------
# J4: the percentage ETL — one join instead of the 4-level loop.
# ---------------------------------------------------------------------------
@register(
    "pct_etl",
    bench=True,
    tags=("pipeline", "join", "aggregate"),
    oracle=f"""
    WITH {_PCT_CTES}
    SELECT branch, move_type, month, day, move_count, total_count, avg_percentage
    FROM pct
    """,
)
def pct_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole precompute_percentages.py (O(combos×groups)
    loop + checkpoint + batched upsert, :178-263) as two grouped sums and one
    equi-join — see plans.percentages."""
    li = load_table(spark, sf_dir, "lineitem")
    return compute_percentages(
        li, branch_col="l_suppkey", type_col="l_returnflag",
        date_col="l_shipdate", count_col="l_quantity",
    )


@register(
    "pct_month_grain",
    tags=("pipeline", "aggregate"),
    oracle=f"""
    WITH {_PCT_CTES},
    {_MONTH_CTE}
    SELECT branch, move_type, month, month_avg_percentage
    FROM month_pct
    """,
)
def pct_month_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain fallback table (reference main.py:102-110) derived from
    the day-grain table — an aggregate of an aggregate, not a re-scan."""
    return month_grain_percentages(pct_etl(spark, sf_dir))


# ---------------------------------------------------------------------------
# J1-J3 + F8-F14 + A7-A9: the forecast tail and its summary.
# ---------------------------------------------------------------------------
def _build_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # The frame below only touches branches 1-10 in June; the filter is
    # on grouping keys, so slicing before the aggregates is exact.
    # The facts slice stays LAZY (two pruned parallel scans feed the
    # moves/totals aggregates): under the session tuning (4 MB local scan
    # splits + table-metadata cache) a checkpoint job costs more than the
    # re-scan it saves. On a 100 TB date-partitioned lake those scans
    # partition-prune on the month predicate (SCALE.md layout), and a
    # flat lake restores a checkpoint barrier. The move-type domain must
    # stay GLOBAL (types_from=li): a type absent from the June slice still
    # owes zero-percentage rows, which feed the month-grain average
    # (reference precompute loop domain).
    facts = li.filter(
        F.col("l_suppkey").between(1, 10) & (F.month("l_shipdate") == 6)
    )
    pct = compute_percentages(
        facts, branch_col="l_suppkey", type_col="l_returnflag",
        date_col="l_shipdate", count_col="l_quantity", types_from=li,
    )
    # The ~1.2k-row day-grain slice feeds four broadcast subtrees (two
    # day-grain keyings + two month-grain) and stays lazy: each
    # broadcast subtree contains the identical pct shuffle exchange,
    # which ReuseExchange evaluates once per action, and only the trivial
    # 1.2k-row post-shuffle aggregate re-runs per consumer, which is
    # cheaper than a localCheckpoint job. Same lesson as the pagerank
    # adjacency and semdedup vector frames. On a 100 TB flat lake a
    # multi-action serving path should restore the barrier so the fact
    # aggregation cannot re-run per action (materialize(pct,
    # "tail-pct-slice")); the one-action request path here does not
    # need it.
    mon = month_grain_percentages(pct)
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-06-01").cast("date"),
                F.lit("1996-06-07").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("ds")
    )
    frame = (
        spark.range(1, 11)
        .select(F.col("id").alias("branch"))
        .crossJoin(days)
        .select(
            "branch",
            F.lit("R").alias("move_type"),
            F.lit("1996-06-01").cast("date").alias("input_date"),
            "ds",
            (50 + (F.col("branch") * 7 + F.dayofmonth("ds")) % 50)
            .cast("double")
            .alias("branch_forecast"),
        )
    )
    return forecast_tail(frame, pct, mon)


@register(
    "forecast_tail_daily",
    bench=True,
    tags=("pipeline", "join", "coalesce"),
    oracle=f"""
    {_TAIL_SQL}
    SELECT branch, move_type, input_date, ds, branch_forecast, pct_used,
           predicted_moves, hist_avg, diff_pp, band, comment
    FROM tail
    """,
)
def forecast_tail_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day forecast rows: the reference's per-row lookup loop
    (main.py:239-288) as two broadcast left joins + COALESCE + CASE."""
    return _build_tail(spark, sf_dir)


@register(
    "forecast_summary",
    tags=("pipeline", "aggregate"),
    oracle=f"""
    {_TAIL_SQL}
    SELECT branch,
           move_type,
           CAST(SUM(predicted_moves) AS BIGINT)          AS total_predicted_moves,
           CAST(FLOOR(AVG(predicted_moves) + 0.5) AS BIGINT) AS average_daily_moves,
           FLOOR(AVG(pct_used) * 1e4 + 0.5) / 1e4        AS avg_pct_used,
           COUNT(*)                                      AS n_days
    FROM tail
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def forecast_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window roll-up (reference main.py:290-332) — one aggregate over the
    tail instead of a second wave of per-day lookups."""
    return forecast_summary(_build_tail(spark, sf_dir))


# ---------------------------------------------------------------------------
# §3.2: trends — six sequential per-year queries collapsed to one.
# ---------------------------------------------------------------------------
_TRENDS_SQL = """
    SELECT CAST(year(l_shipdate) AS INT)  AS year,
           CAST(l_shipdate AS DATE)       AS ds,
           strftime(l_shipdate, '%m-%d')  AS month_day,
           FLOOR(SUM(l_quantity) * 1e2 + 0.5) / 1e2 AS total_moves
    FROM lineitem
    WHERE l_suppkey = 7
      AND year(l_shipdate) BETWEEN 1995 AND 2000
      AND month(l_shipdate) * 100 + day(l_shipdate) BETWEEN 601 AND 607
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
"""


@register(
    "trends_onepass",
    bench=True,
    tags=("pipeline", "aggregate"),
    oracle=_TRENDS_SQL,
)
def trends_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference main.py:363-393 (6 round-trips) as one scan + one shuffle;
    the per-year windows become a (month*100+day) BETWEEN predicate."""
    import datetime as dt

    li = load_table(spark, sf_dir, "lineitem")
    return historical_trends(
        li, branch_col="l_suppkey", date_col="l_shipdate", count_col="l_quantity",
        branch=7, window_start=dt.date(1996, 6, 1), window_end=dt.date(1996, 6, 7),
        years=(1995, 2000),
    )


@register(
    "trends_by_move_type",
    tags=("pipeline", "aggregate"),
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT)  AS year,
           CAST(l_shipdate AS DATE)       AS ds,
           strftime(l_shipdate, '%m-%d')  AS month_day,
           FLOOR(SUM(l_quantity) * 1e2 + 0.5) / 1e2 AS total_moves
    FROM lineitem
    WHERE l_suppkey = 7
      AND l_returnflag = 'R'
      AND year(l_shipdate) BETWEEN 1995 AND 2000
      AND month(l_shipdate) * 100 + day(l_shipdate) BETWEEN 601 AND 607
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
    """,
)
def trends_by_move_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trends with the optional move_type conjunct (reference main.py:376-384)."""
    import datetime as dt

    li = load_table(spark, sf_dir, "lineitem")
    return historical_trends(
        li, branch_col="l_suppkey", date_col="l_shipdate", count_col="l_quantity",
        branch=7, window_start=dt.date(1996, 6, 1), window_end=dt.date(1996, 6, 7),
        years=(1995, 2000), type_col="l_returnflag", move_type="R",
    )


@register(
    "trends_nested_by_year",
    tags=("pipeline", "nested"),
    oracle=f"""
    WITH t AS ({_TRENDS_SQL})
    SELECT year,
           array_to_string(
             list(month_day || ':' || CAST(total_moves AS VARCHAR) ORDER BY ds),
             ',') AS days
    FROM t
    GROUP BY year
    ORDER BY year
    """,
)
def trends_nested_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nested {year: [day rows]} response (reference main.py:395-403),
    serialized order-stably."""
    return trends_nested(trends_onepass(spark, sf_dir))


@register(
    "trends_cross_year_window",
    tags=("pipeline", "aggregate"),
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT)  AS year,
           CAST(l_shipdate AS DATE)       AS ds,
           strftime(l_shipdate, '%m-%d')  AS month_day,
           FLOOR(SUM(l_quantity) * 1e2 + 0.5) / 1e2 AS total_moves
    FROM lineitem
    WHERE l_suppkey = 7
      AND year(l_shipdate) BETWEEN 1995 AND 2000
      AND (month(l_shipdate) * 100 + day(l_shipdate) >= 1229
           OR month(l_shipdate) * 100 + day(l_shipdate) <= 104)
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
    """,
)
def trends_cross_year_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window wrapping the year boundary (Dec 29 → Jan 4) — the OR-of-spans
    predicate. (The reference's replace(year=) BETWEEN would return empty
    here; divergence documented in SURVEY.md §7 risk 5.)"""
    import datetime as dt

    li = load_table(spark, sf_dir, "lineitem")
    return historical_trends(
        li, branch_col="l_suppkey", date_col="l_shipdate", count_col="l_quantity",
        branch=7, window_start=dt.date(1996, 12, 29), window_end=dt.date(1997, 1, 4),
        years=(1995, 2000),
    )


_TAIL_DEMOTED_SQL = f"""
    WITH {_PCT_CTES},
    {_MONTH_CTE},
    frame AS (
      SELECT b.branch,
             CASE WHEN b.branch <= 5 THEN 'R' ELSE NULL END AS move_type,
             CAST(d.d AS DATE)              AS ds,
             CAST(50 + ((b.branch * 7 + day(d.d)) % 50) AS DOUBLE) AS branch_forecast,
             CAST(month(DATE '1996-06-01') AS INT) AS imonth,
             CAST(day(DATE '1996-06-01') AS INT)   AS iday
      FROM (SELECT unnest(range(1, 11)) AS branch) b,
           (SELECT unnest(generate_series(DATE '1996-06-01', DATE '1996-06-07',
                                          INTERVAL 1 DAY)) AS d) d
    ),
    joined AS (
      SELECT f.branch, f.move_type, f.ds, f.branch_forecast,
             CASE WHEN f.move_type IS NULL THEN 1e2
                  ELSE COALESCE(sp.avg_percentage, sm.month_avg_percentage, 1e0)
             END AS pct_used
      FROM frame f
      LEFT JOIN pct sp
        ON f.branch = sp.branch AND f.move_type = sp.move_type
       AND f.imonth = sp.month AND f.iday = sp.day
      LEFT JOIN month_pct sm
        ON f.branch = sm.branch AND f.move_type = sm.move_type AND f.imonth = sm.month
    )
    SELECT branch, move_type, ds,
           FLOOR(pct_used * 1e4 + 0.5) / 1e4 AS pct_used,
           CAST(FLOOR(GREATEST(pct_used / 1e2 * branch_forecast, 0e0) + 0.5) AS BIGINT)
             AS predicted_moves
    FROM joined
"""


@register(
    "forecast_tail_demoted_move_type",
    tags=("pipeline", "join", "null"),
    oracle=_TAIL_DEMOTED_SQL,
)
def forecast_tail_demoted_move_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's silent move_type demotion (an unknown type becomes
    None => 100% of the branch forecast, reference main.py:204-209) -
    branches 6-10 get NULL move_type and must come back with pct_used=100."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = compute_percentages(
        li, branch_col="l_suppkey", type_col="l_returnflag",
        date_col="l_shipdate", count_col="l_quantity",
    ).filter(F.col("branch").between(1, 10) & (F.col("month") == 6))
    mon = month_grain_percentages(pct)
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-06-01").cast("date"),
                F.lit("1996-06-07").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("ds")
    )
    frame = (
        spark.range(1, 11)
        .select(F.col("id").alias("branch"))
        .crossJoin(days)
        .select(
            "branch",
            F.when(F.col("branch") <= 5, F.lit("R")).otherwise(F.lit(None)).alias("move_type"),
            F.lit("1996-06-01").cast("date").alias("input_date"),
            "ds",
            (50 + (F.col("branch") * 7 + F.dayofmonth("ds")) % 50)
            .cast("double")
            .alias("branch_forecast"),
        )
    )
    tail = forecast_tail(frame, pct, mon)
    return tail.select("branch", "move_type", "ds", "pct_used", "predicted_moves")
