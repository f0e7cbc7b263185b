"""The reference's two service endpoints, end-to-end (SURVEY.md §3.1/§3.2).

`forecast_request` is the full POST /forecast/ path (reference
main.py:187-338) and `trends_request` the full POST /historical_trends/
(main.py:340-403) — each one Spark plan over the lake instead of ~30
(resp. 6) Postgres round-trips, with the clock injected (no hidden
``datetime.now()``, SURVEY §5.4) and every validation rule preserved:

1. strict date parse (400 on bad format)            main.py:190-193
2. horizon cap                                      main.py:196-197
3. branch must exist in the model registry          main.py:200-201
4. unknown move_type silently demoted to None       main.py:204-209
5. 7-day window clamp into [today, max]             main.py:215-228
6. per-day forecast → pct fallback chain → comment  main.py:230-288
7. period summary + average daily moves             main.py:290-332

`forecast_batch` is the one forecast planner; a single request is a
one-row batch, and the server's forecast surface is one batch over the
whole live domain. Collecting a request's daily rows, its branch probe
included, runs 9 Spark jobs with a known move type (AQE runs each shuffle
stage and broadcast build as its own job), and 3 with an unknown one or
branch-level, where the NULL move type lets the optimizer drop the
percentage joins; a caller that does not pass the known move types pays
2 more for collecting them (sf0.01, counted per job group).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetime_fns import forecast_window, forecast_window_cols
from .forecast_tail import forecast_summary, forecast_tail
from .percentages import month_grain_percentages
from .training import score


class RequestError(ValueError):
    """Invalid request (the reference's HTTP 400 path, main.py:425-427)."""


def parse_date(s: str) -> dt.date:
    try:
        return dt.datetime.strptime(s, "%Y-%m-%d").date()
    except ValueError as e:
        raise RequestError(f"date must be YYYY-MM-DD, got {s!r}") from e


def check_request(
    date: str, branch: int, max_date: dt.date, has_branch: Callable[[int], bool]
) -> dt.date:
    """The forecast 400s in the reference's order (rules 1-3): the parsed
    input date of a request that passes them, else ``RequestError``."""
    input_date = parse_date(date)
    if input_date > max_date:
        raise RequestError(f"forecasts are capped at {max_date}")  # main.py:196-197
    if not has_branch(branch):  # main.py:200-201
        raise RequestError(f"unknown branch {branch!r}")
    return input_date


def known_move_types(pct: DataFrame) -> tuple[str, ...]:
    """The move types of the percentage table, sorted: the types a request
    may name without being demoted (2 Spark jobs)."""
    return tuple(
        sorted(
            r.move_type
            for r in pct.select("move_type").distinct().collect()
            if r.move_type is not None
        )
    )


def forecast_request(
    spark: SparkSession,
    models: DataFrame,  # plans.training registry (branch, coeffs, sigma, n_obs)
    pct: DataFrame,  # plans.percentages.compute_percentages output
    date: str,
    branch: int,
    move_type: str | None,
    today: dt.date,
    max_date: dt.date,
    move_types: Sequence[str] | None = None,  # known_move_types(pct), if resolved
) -> tuple[DataFrame, DataFrame]:
    """Full forecast request → (daily rows, summary rows).

    The 400s (rules 1-3) raise here, eagerly; the rest is a one-row
    :func:`forecast_batch`, which also does the silent move-type demotion.
    """
    # branch ∈ registry: a driver-side probe on the tiny registry table,
    # same semantics as the reference's model_cache check.
    input_date = check_request(
        date, branch, max_date,
        lambda b: not models.filter(F.col("branch") == b).isEmpty(),
    )
    request = spark.range(1).select(
        F.lit(branch).cast("long").alias("branch"),
        F.lit(move_type).cast("string").alias("move_type"),
        F.lit(str(input_date)).cast("date").alias("input_date"),
    )
    daily = forecast_batch(spark, models, pct, request, today, max_date, move_types)
    return daily, forecast_summary(daily)


def trends_request(
    spark: SparkSession,
    facts: DataFrame,
    branch_col: str,
    date_col: str,
    count_col: str,
    date: str,
    branch,
    move_type,
    type_col: str | None,
    today: dt.date,
    max_date: dt.date,
    years: tuple[int, int],
) -> DataFrame:
    """Full historical-trends request: same clamp, then the one-pass
    per-year aggregate + nested shaping (vs. 6 sequential round-trips)."""
    from .trends import historical_trends, trends_nested

    input_date = parse_date(date)
    start, end = forecast_window(input_date, today, max_date)
    trends = historical_trends(
        facts,
        branch_col=branch_col,
        date_col=date_col,
        count_col=count_col,
        branch=branch,
        window_start=start,
        window_end=end,
        years=years,
        type_col=type_col if move_type is not None else None,
        move_type=move_type,
    )
    return trends_nested(trends)


def forecast_batch(
    spark: SparkSession,
    models: DataFrame,
    pct: DataFrame,
    requests: DataFrame,  # (branch long, move_type string|null, input_date date)
    today: dt.date,
    max_date: dt.date,
    move_types: Sequence[str] | None = None,  # known_move_types(pct), if resolved
) -> DataFrame:
    """Many forecast requests as one Spark plan; every forecast, single
    requests included, goes through here:

    requests → demote unknown move types → per-row window clamp (column
    expressions) → explode each window into its date spine → join the
    branch-day scores of [today, max_date] onto it (the inner join drops
    unknown branches, the reference's 400 path) → tail. Requests past
    ``max_date`` are dropped. Cost is one plan regardless of batch size;
    ``move_types`` left unset costs 2 more jobs.
    """
    t = F.lit(str(today)).cast("date")
    m = F.lit(str(max_date)).cast("date")

    # The silent unknown-move_type demotion (main.py:204-209): a type
    # absent from the percentage table becomes NULL => the 100% path. The
    # known types are literals in the plan, so for a literal request the
    # demotion folds to a constant and a demoted request plans like a
    # branch-level one.
    known = known_move_types(pct) if move_types is None else tuple(move_types)
    requests = requests.select(
        "branch",
        F.when(F.col("move_type").isin(*known), F.col("move_type"))
        .otherwise(F.lit(None).cast("string"))
        .alias("move_type"),
        "input_date",
    )

    start, end = forecast_window_cols(F.col("input_date"), t, m)
    spine = requests.filter(F.col("input_date") <= m).select(
        "branch",
        "move_type",
        "input_date",
        F.explode(F.sequence(start, end, F.expr("interval 1 day"))).alias("ds"),
    )
    # A branch-day's forecast does not depend on the request, and every
    # clamped window lies in [today, max_date]: each model branch is scored
    # once per day of that span, straight off the registry rows, and the
    # scores are broadcast onto the spine. A live-domain batch has 28x
    # more spine rows than branch-days; the inner join drops unknown
    # branches.
    scores = score(models, t, m).select(
        "branch",
        "ds",
        # The reference clips and half-up-rounds the upper bound to an
        # integer Count BEFORE any scaling (main.py:234-236: clip(0).
        # round().astype(int)); final = round(pct/100 * Count) and
        # implied% = final/Count — so the tail must see the integer, not
        # the raw yhat_upper (score computes it as `count`). Feeding
        # the fractional bound shifts predicted_moves by ±1 and can flip
        # the ±5pp comment band.
        F.col("count").cast("double").alias("branch_forecast"),
    )
    frame = spine.join(F.broadcast(scores), on=["branch", "ds"]).select(
        "branch",
        "move_type",
        # The scaling percentage resolves at the REQUEST's input date, even
        # when the window was clamped to start later (main.py:239-243), so
        # the tail is keyed by the full request identity.
        "input_date",
        "ds",
        "branch_forecast",
    )
    return forecast_tail(frame, pct, month_grain_percentages(pct))
