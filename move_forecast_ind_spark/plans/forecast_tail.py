"""The forecast request's relational tail as ONE Spark plan (SURVEY.md §3.1
steps 7-11).

After the model produces a per-day branch forecast, the reference does:

- ONE percentage lookup at the REQUEST's input date (month, day) — with the
  day → month-average → 1.0 fallback chain — and scales EVERY day of the
  ≤7-day window by that single percentage (reference main.py:239-243, 255).
- PER DAY of the window, a second lookup (same fallback chain) at that
  forecast day's (month, day) that feeds only the comment: the implied
  percentage (rounded forecast / branch forecast × 100) is compared against
  the day's historical average and banded at ±5 pp (main.py:258-281).

Each lookup is 1-2 Postgres round-trips — up to ~30 fresh TCP connections
per request (main.py:85-120, 239-332). Here the lookup table is joined
wholesale:

    frame (≤7×branches rows, carrying the request's input_date)
      LEFT JOIN broadcast(pct)       ON (branch, move_type, imonth, iday) [J1]
      LEFT JOIN broadcast(month_pct) ON (branch, move_type, imonth)      [J2]
      pct_used  = COALESCE(input-day, input-month, 1.0)                  [J3]
      predicted = floor(pct_used/100 * forecast + 0.5)  clipped at 0     [F8-F10]
      LEFT JOIN broadcast(pct)       ON (branch, move_type, month, day)  [J1]
      LEFT JOIN broadcast(month_pct) ON (branch, move_type, month)       [J2]
      hist_avg  = COALESCE(day, month, 1.0)          (per forecast day)
      implied   = predicted / forecast * 100
      band/comment via CASE on (implied - hist_avg) + deterministic pick [F12-F14]

Four broadcast joins of two tiny derived tables replace ~30 point lookups;
every fallback level is one COALESCE argument. The phrase choice is the
reference's random.choice (main.py:270-315) made deterministic:
index = (branch*31 + month*7 + day) % 3 — replayable and hash-checkable
(SURVEY.md §5.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import (
    r4,
    round_count,
    sql_round_count,
    sql_round_half_up,
)

# Three-phrase banks per band (shape of reference main.py:130-163).
PHRASES: dict[str, tuple[str, str, str]] = {
    "stronger": (
        "demand is running ahead of the usual pace",
        "expect a busier day than the historical norm",
        "volumes trending above the seasonal average",
    ),
    "consistent": (
        "demand is in line with the usual pace",
        "expect a typical day for this season",
        "volumes tracking the seasonal average",
    ),
    "weaker": (
        "demand is running behind the usual pace",
        "expect a quieter day than the historical norm",
        "volumes trending below the seasonal average",
    ),
}

# The demoted-request comment (reference main.py:282 NO_MOVE_TYPE path —
# original wording, not the reference's string).
NO_MOVE_TYPE_PHRASE = "branch-level forecast; no move type specified"


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal with '' escaping (ADVICE r9: the
    phrase banks are interpolated into expr strings — escape rather than
    trust a comment that no phrase contains a quote)."""
    return "'{}'".format(s.replace("'", "''"))


def sql_phrase_pick(band: str, idx: str) -> str:
    """Deterministic phrase selection as one expr string: a CASE over the
    band that picks phrase ``idx`` (from 0) of its bank (NULL for any other
    band) — the construction-cost doctrine applied to the tail's phrase
    bank. Phrases are SQL-escaped ('' doubling), so a future bank entry
    containing an apostrophe cannot break the parse (ADVICE r9)."""
    whens = " ".join(
        "WHEN ({band}) = '{b}' THEN element_at(array({bank}), ({idx}) + 1)".format(
            band=band,
            b=b,
            bank=", ".join(_sql_str(p) for p in bank),
            idx=idx,
        )
        for b, bank in PHRASES.items()
    )
    return f"CASE {whens} END"


def forecast_tail(
    frame: DataFrame,  # branch, move_type, input_date, ds, branch_forecast
    pct: DataFrame,  # plans.percentages.compute_percentages output
    month_pct: DataFrame,  # plans.percentages.month_grain_percentages output
) -> DataFrame:
    """Attach percentages, scale, band, and phrase — one plan, four broadcast
    joins, zero per-row work.

    ``frame`` must carry the request's ``input_date``: the scaling
    percentage is resolved ONCE at that date's (month, day) and applied to
    every window day (reference main.py:239-243), while the per-day chain
    only feeds the implied-vs-historical comment band (main.py:258-281).
    """
    f = frame.select(
        "branch",
        "move_type",
        "input_date",
        "ds",
        "branch_forecast",
        F.month("ds").alias("month"),
        F.dayofmonth("ds").alias("day"),
        F.month("input_date").alias("imonth"),
        F.dayofmonth("input_date").alias("iday"),
    )
    day_pct = pct.select("branch", "move_type", "month", "day", "avg_percentage")
    # The same two lookup tables, re-keyed for the input-date resolution.
    scale_day = day_pct.select(
        "branch",
        "move_type",
        F.col("month").alias("imonth"),
        F.col("day").alias("iday"),
        F.col("avg_percentage").alias("scale_day_avg"),
    )
    scale_mon = month_pct.select(
        "branch",
        "move_type",
        F.col("month").alias("imonth"),
        F.col("month_avg_percentage").alias("scale_month_avg"),
    )

    j = (
        f.join(F.broadcast(scale_day), on=["branch", "move_type", "imonth", "iday"], how="left")
        .join(F.broadcast(scale_mon), on=["branch", "move_type", "imonth"], how="left")
        .join(F.broadcast(day_pct), on=["branch", "move_type", "month", "day"], how="left")
        .join(F.broadcast(month_pct), on=["branch", "move_type", "month"], how="left")
    )
    # The post-join computation as expr strings, which parse server-side
    # in one gateway roundtrip each (a Column build is ~60 ops ≈ 2.4 k
    # roundtrips). Each intermediate is its own column, computed once per
    # row: inlined into the band's CASE, diff_pp and everything under it
    # would be re-evaluated in each conditional branch. FP literals use
    # exponent notation (`1e2`, `0e0`, `5e0`) because bare decimals parse
    # as DECIMAL in Spark SQL and would switch the arithmetic
    # (oracle-hash-checked for the whole tail family at 3 SFs).
    #
    # NULL move_type = the reference's silent demotion of an unknown type
    # (reference main.py:204-209): no percentage split, the full branch
    # forecast applies (100%). Otherwise: day → month → 1.0 fallback chain
    # resolved at the INPUT date (main.py:239-243). hist_avg is the
    # per-day historical average, the comment band's yardstick
    # (main.py:258-265); the reference's per-day fetch uses the same full
    # fallback chain, so it is never null for a known move type.
    stages = {
        "pct_used_raw": "CASE WHEN move_type IS NULL THEN 1e2 "
        "ELSE COALESCE(scale_day_avg, scale_month_avg, 1e0) END",
        "hist_avg_raw": "CASE WHEN move_type IS NULL THEN CAST(NULL AS DOUBLE) "
        "ELSE COALESCE(avg_percentage, month_avg_percentage, 1e0) END",
        "predicted": sql_round_count("GREATEST((pct_used_raw) / 1e2 * branch_forecast, 0e0)"),
        "implied": "CASE WHEN branch_forecast > 0 "
        "THEN (predicted) / branch_forecast * 1e2 ELSE 0e0 END",
        "diff_raw": "CASE WHEN move_type IS NULL THEN 0e0 "
        f"ELSE {sql_round_half_up('(implied) - (hist_avg_raw)', 4)} END",
        "band_raw": "CASE WHEN ABS(diff_raw) <= 5e0 THEN 'consistent' "
        "WHEN diff_raw > 5e0 THEN 'stronger' ELSE 'weaker' END",
    }
    for name, expr in stages.items():
        j = j.selectExpr("*", f"{expr} AS {name}")
    phrase = sql_phrase_pick("band_raw", "CAST(pmod(branch * 31 + month * 7 + day, 3) AS INT)")
    comment = (
        f"CASE WHEN move_type IS NULL THEN {_sql_str(NO_MOVE_TYPE_PHRASE)} "
        f"ELSE concat({phrase}, ' (', "
        f"format_string('%.1f', {sql_round_half_up('hist_avg_raw', 1)}), "
        f"'% hist, ', "
        f"format_string('%.1f', {sql_round_half_up('implied', 1)}), "
        f"'% now)') END"
    )
    return j.selectExpr(
        "branch",
        "move_type",
        "input_date",
        "ds",
        f"{sql_round_half_up('branch_forecast', 2)} AS branch_forecast",
        f"{sql_round_half_up('pct_used_raw', 4)} AS pct_used",
        "predicted AS predicted_moves",
        f"{sql_round_half_up('hist_avg_raw', 4)} AS hist_avg",
        "diff_raw AS diff_pp",
        "band_raw AS band",
        f"{comment} AS comment",
    )


def forecast_summary(tail: DataFrame) -> DataFrame:
    """Period roll-up (reference main.py:290-332): totals + average daily
    moves per (branch, move_type) over the window — a single aggregate over
    the ≤7-row-per-branch tail, not a second wave of lookups."""
    return (
        tail.groupBy("branch", "move_type")
        .agg(
            F.sum("predicted_moves").cast("long").alias("total_predicted_moves"),
            round_count(F.avg("predicted_moves")).alias("average_daily_moves"),
            r4(F.avg("pct_used")).alias("avg_pct_used"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("branch", "move_type")
    )
