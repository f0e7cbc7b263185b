"""End-to-end service-path tests: the reference's two endpoints as single
Spark jobs (plans/service.py), including every validation rule."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL

TODAY = dt.date(1999, 6, 1)
MAX = dt.date(1999, 7, 31)


@pytest.fixture(scope="module")
def models(spark):
    from move_forecast_ind_spark.plans.training import train_models
    from move_forecast_ind_spark.queries.ml import _daily_series

    return train_models(_daily_series(spark, SF_SMALL), cutoff="1998-12-31").cache()


@pytest.fixture(scope="module")
def pct(spark):
    from move_forecast_ind_spark.plans.percentages import compute_percentages
    from move_forecast_ind_spark.sources import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    return compute_percentages(
        li, "l_suppkey", "l_returnflag", "l_shipdate", "l_quantity"
    ).cache()


def test_forecast_request_end_to_end(spark, models, pct):
    from move_forecast_ind_spark.plans.service import forecast_request

    daily, summary = forecast_request(
        spark, models, pct, date="1999-06-03", branch=7, move_type="R",
        today=TODAY, max_date=MAX,
    )
    rows = daily.collect()
    assert len(rows) == 7  # full window fits
    assert all(r.move_type == "R" for r in rows)
    assert all(r.predicted_moves >= 0 for r in rows)
    assert all(r.band in ("stronger", "consistent", "weaker") for r in rows)
    s = summary.collect()
    assert len(s) == 1 and s[0].n_days == 7
    assert s[0].total_predicted_moves == sum(r.predicted_moves for r in rows)


def test_forecast_response_branch_level(spark, models, pct):
    """A branch-level request (move_type None) serves the full 7-day
    window, and the server's period totals, computed from the collected
    rows, equal plans.forecast_tail.forecast_summary's Spark aggregate."""
    from move_forecast_ind_spark.plans.service import forecast_request
    from move_forecast_ind_spark.server import ServingContext, forecast_response_dict

    ctx = ServingContext(
        spark=spark, models=models, pct=pct, facts=None, branch_col="l_suppkey",
        date_col="l_shipdate", count_col="l_quantity", type_col="l_returnflag",
        today=TODAY, max_date=MAX, years=(1995, 1998),
    )
    for move_type in (None, "R"):
        out = forecast_response_dict(
            ctx, {"date": "1999-06-03", "branch": 7, "move_type": move_type}
        )
        _, summary = forecast_request(
            spark, models, pct, date="1999-06-03", branch=7, move_type=move_type,
            today=TODAY, max_date=MAX,
        )
        (s,) = summary.collect()
        assert out["branch"] == 7 and out["move_type"] == move_type
        assert len(out["predicted_summary"]) == s.n_days == 7
        assert out["total_predicted_moves"] == s.total_predicted_moves
        assert out["average_daily_moves"] == s.average_daily_moves


def test_forecast_window_clamps_at_horizon(spark, models, pct):
    from move_forecast_ind_spark.plans.service import forecast_request

    daily, _ = forecast_request(
        spark, models, pct, date="1999-07-31", branch=3, move_type=None,
        today=TODAY, max_date=MAX,
    )
    ds = sorted(r.ds for r in daily.collect())
    assert ds[-1] == MAX
    assert len(ds) == 7


def test_bad_date_and_horizon_rejected(spark, models, pct):
    from move_forecast_ind_spark.plans.service import RequestError, forecast_request

    with pytest.raises(RequestError):
        forecast_request(spark, models, pct, "1999/06/03", 7, None, TODAY, MAX)
    with pytest.raises(RequestError):
        forecast_request(spark, models, pct, "1999-08-01", 7, None, TODAY, MAX)


def test_unknown_branch_rejected(spark, models, pct):
    from move_forecast_ind_spark.plans.service import RequestError, forecast_request

    with pytest.raises(RequestError):
        forecast_request(spark, models, pct, "1999-06-03", 10**9, None, TODAY, MAX)


def test_unknown_move_type_demoted_to_100pct(spark, models, pct):
    from move_forecast_ind_spark.plans.service import forecast_request

    daily, _ = forecast_request(
        spark, models, pct, date="1999-06-03", branch=7,
        move_type="NOT_A_REAL_TYPE", today=TODAY, max_date=MAX,
    )
    rows = daily.collect()
    assert all(r.move_type is None for r in rows)
    assert all(abs(r.pct_used - 100.0) < 1e-9 for r in rows)


def test_trends_request_end_to_end(spark):
    from move_forecast_ind_spark.plans.service import trends_request
    from move_forecast_ind_spark.sources import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    nested = trends_request(
        spark, li, branch_col="l_suppkey", date_col="l_shipdate",
        count_col="l_quantity", date="1999-06-03", branch=7, move_type=None,
        type_col="l_returnflag", today=TODAY, max_date=MAX, years=(1995, 2000),
    )
    rows = nested.collect()
    assert rows, "expected at least one year of trend data"
    assert all(isinstance(r.days, str) and r.days for r in rows)
    years = [r.year for r in rows]
    assert years == sorted(years)


def test_forecast_batch_matches_single_requests(spark, models, pct):
    """A request's rows do not depend on the batch it rides in: a batch
    equals the union of the same requests run one per batch. The batch
    mixes overlapping windows, a branch-level request, an unknown move
    type, a past date and an unknown branch (whose rows are dropped)."""
    from move_forecast_ind_spark.plans.service import forecast_batch

    reqs = [
        (7, "R", dt.date(1999, 6, 3)),
        (7, "R", dt.date(1999, 6, 5)),  # overlaps the window above
        (3, None, dt.date(1999, 7, 30)),
        (5, "ZZ", dt.date(1999, 6, 20)),  # unknown type: demoted to NULL
        (2, "A", dt.date(1999, 5, 1)),  # past date: clamped to today
        (10**6, "R", dt.date(1999, 6, 3)),  # unknown branch: no rows
    ]
    schema = "branch long, move_type string, input_date date"

    def run(rows):
        frame = spark.createDataFrame(rows, schema)
        out = forecast_batch(spark, models, pct, frame, today=TODAY, max_date=MAX)
        return out.collect()

    batch = run(reqs)
    singles = [r for req in reqs for r in run([req])]
    assert sorted(batch, key=repr) == sorted(singles, key=repr)
    assert {r.branch for r in batch} == {7, 3, 5, 2}
    assert len(batch) == 5 * 7


def test_forecast_batch_overlapping_windows_no_duplicates(spark, models, pct):
    """Two requests for the same (branch, move_type) with overlapping
    windows must each get exactly one row per day (regression: the tail
    re-attach join used to multiply rows across overlapping requests)."""
    import datetime as dt

    from move_forecast_ind_spark.plans.service import forecast_batch

    req_df = spark.createDataFrame(
        [(7, "R", dt.date(1999, 6, 3)), (7, "R", dt.date(1999, 6, 5))],
        "branch long, move_type string, input_date date",
    )
    batch = forecast_batch(spark, models, pct, req_df, today=TODAY, max_date=MAX)
    rows = batch.collect()
    keys = [(r.branch, r.move_type, r.input_date, r.ds) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate (request, day) rows"
    per_req = {}
    for r in rows:
        per_req.setdefault(r.input_date, set()).add(r.ds)
    assert all(len(days) == 7 for days in per_req.values())


def test_forecast_batch_demotes_unknown_move_type(spark, models, pct):
    """Batch path must apply the same silent demotion as the single path:
    unknown move_type -> NULL -> 100% (regression: it used to fall through
    to the 1.0% constant)."""
    import datetime as dt

    from move_forecast_ind_spark.plans.service import forecast_batch

    req_df = spark.createDataFrame(
        [(7, "NOT_A_REAL_TYPE", dt.date(1999, 6, 3))],
        "branch long, move_type string, input_date date",
    )
    rows = forecast_batch(
        spark, models, pct, req_df, today=TODAY, max_date=MAX
    ).collect()
    assert rows and all(r.move_type is None for r in rows)
    assert all(abs(r.pct_used - 100.0) < 1e-9 for r in rows)
