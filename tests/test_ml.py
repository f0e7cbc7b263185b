"""ML-path tests: determinism, forecast sanity across the three tiers
(regr aggregates / per-branch Fourier OLS / global MLlib)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def historical_means(spark):
    from move_forecast_ind_spark.queries.ml import _daily_series

    rows = (
        _daily_series(spark, SF_SMALL)
        .filter(F.col("branch").between(1, 10))
        .groupBy("branch")
        .agg(F.avg("y").alias("mu"), F.stddev("y").alias("sd"))
        .collect()
    )
    return {r.branch: (r.mu, r.sd or 0.0) for r in rows}


@pytest.mark.parametrize(
    "qname", ["ml_linreg_forecast", "ml_forecast_fourier", "ml_mllib_global_forecast"]
)
def test_forecasts_are_sane_and_deterministic(spark, historical_means, qname):
    from move_forecast_ind_spark.queries import REGISTRY

    fn = REGISTRY[qname].fn
    rows = fn(spark, SF_SMALL).collect()
    # 10 branches × 7 days, minus branches with too short a training series
    # at this scale factor (the linreg <2-rows and Fourier <30-days guards
    # drop them from the registry)
    assert rows and len(rows) % 7 == 0 and len(rows) <= 70
    assert {r.branch for r in rows} <= set(range(1, 11))
    again = fn(spark, SF_SMALL).collect()
    assert sorted(map(repr, rows)) == sorted(map(repr, again)), "nondeterministic"
    for r in rows:
        if r.branch not in historical_means:
            continue  # no history at this sf: global model falls back to baseline
        mu, sd = historical_means[r.branch]
        # a linear/seasonal model's 6-month-ahead point forecast should stay
        # within a generous envelope of the historical distribution
        assert abs(r.yhat - mu) < max(6 * sd, 0.8 * mu + 10), (
            f"{qname} branch {r.branch} yhat {r.yhat} vs mu {mu} sd {sd}"
        )
        assert r["count"] >= 0


def test_fourier_upper_bound_above_point(spark):
    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["ml_forecast_fourier"].fn(spark, SF_SMALL).collect()
    assert all(r.yhat_upper >= r.yhat for r in rows)


def _synthetic_daily(spark, n_days: int, branch: int = 1, y=None):
    """(branch, ds, y) for ``n_days`` consecutive days from 1998-01-01."""
    import datetime as dt

    d0 = dt.date(1998, 1, 1)
    return spark.createDataFrame(
        [
            (branch, d0 + dt.timedelta(days=i), float(y if y is not None else 10 + i % 7))
            for i in range(n_days)
        ],
        "branch long, ds date, y double",
    )


def test_fit_requires_min_obs_days(spark):
    """A 12-coefficient system needs MIN_OBS_Q (30) training days: a
    29-day branch gets no model row, a 30-day branch gets one."""
    from move_forecast_ind_spark.plans.training import MIN_OBS_Q, train_models

    assert MIN_OBS_Q == 30
    daily = _synthetic_daily(spark, 29, branch=1).unionByName(
        _synthetic_daily(spark, 30, branch=2)
    )
    rows = train_models(daily, cutoff="1998-12-31").collect()
    assert [(r.branch, r.n_obs, len(r.coeffs)) for r in rows] == [(2, 30, 12)]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_fit_refuses_long_overflow(spark, ansi):
    """y ~ 4e12 puts the quantized y'y past a long. Under ANSI mode Spark's
    own overflow check fires; with ANSI off the long sum wraps silently and
    the driver guard must raise OverflowError. Either way, no model row."""
    from move_forecast_ind_spark.plans.training import train_models

    daily = _synthetic_daily(spark, 40, y=4e12)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        with pytest.raises(Exception) as ei:
            train_models(daily, cutoff="1998-12-31")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    if ansi == "false":
        assert ei.type is OverflowError
        assert "branch 1" in str(ei.value)
    else:
        assert "ARITHMETIC_OVERFLOW" in str(ei.value)


def test_holt_winters_internal_consistency(spark):
    """forecast must equal the snap4 of level + h*trend for every row;
    7 rows per series; days advance consecutively from a common base."""
    import math

    from move_forecast_ind_spark.queries.registry import REGISTRY

    rows = REGISTRY["ml_holt_winters"].fn(spark, SF_SMALL).collect()
    assert rows
    by_et: dict = {}
    for r in rows:
        assert r.forecast == math.floor((r.level + r.h * r.trend) * 1e4 + 0.5) / 1e4
        # state is on the 1e-6 grid (snap contract)
        assert abs(r.level * 1e6 - round(r.level * 1e6)) < 1e-3
        assert abs(r.trend * 1e6 - round(r.trend * 1e6)) < 1e-3
        by_et.setdefault(r.event_type, []).append(r)
    for et, rs in by_et.items():
        rs.sort(key=lambda r: r.h)
        assert [r.h for r in rs] == list(range(1, 8))
        assert len({(r.level, r.trend) for r in rs}) == 1  # one state per series
        for a, b in zip(rs, rs[1:]):
            assert (b.day - a.day).days == 1


def test_holt_winters_seasonal_consistency(spark):
    """Triple-smoothing output: forecast = snap4(level + h*trend +
    seasonal); one (level, trend) state per series; the 7 reported
    seasonals are the final seasonal ring in horizon order."""
    import math

    from move_forecast_ind_spark.queries.registry import REGISTRY
    from move_forecast_ind_spark.sources import load_table

    rows = REGISTRY["ml_holt_winters_seasonal"].fn(spark, SF_SMALL).collect()
    assert rows
    by_et: dict = {}
    for r in rows:
        expected = math.floor((r.level + r.h * r.trend + r.seasonal) * 1e4 + 0.5) / 1e4
        assert r.forecast == expected
        by_et.setdefault(r.event_type, []).append(r)
    # seasonal deviations are bounded by the series' own daily counts:
    # every seasonal state is a convex-ish combination of (y - level)
    # terms, and level stays within the data's range up to trend drift —
    # so |seasonal| can never exceed the series' max daily count (vs the
    # old vacuous 1e6 bound, ADVICE r5).
    max_daily = {
        r.event_type: r.mx
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .count()
        .groupBy("event_type")
        .agg(F.max("count").alias("mx"))
        .collect()
    }
    for et, rs in by_et.items():
        assert len(rs) == 7
        assert len({(r.level, r.trend) for r in rs}) == 1
        ring = [r.seasonal for r in sorted(rs, key=lambda r: r.h)]
        assert max(abs(s) for s in ring) <= max_daily[et]


def test_isotonic_fit_properties(spark):
    """The PAVA fit must be (a) nondecreasing within each series, (b)
    sum-preserving (L2 isotonic projection keeps the total), and (c)
    piecewise-constant with each block's value equal to the mean of its
    observations."""
    from collections import defaultdict

    from move_forecast_ind_spark.queries import REGISTRY

    rows = REGISTRY["ml_isotonic_trend"].fn(spark, SF_SMALL).collect()
    series = defaultdict(list)
    for r in rows:
        series[r.event_type].append((r.day, r.y, r.fitted))
    assert series
    for et, pts in series.items():
        pts.sort()
        fits = [f for _, _, f in pts]
        assert fits == sorted(fits), f"{et}: not monotone"
        assert abs(sum(fits) - sum(y for _, y, _ in pts)) < 1e-3 * len(pts)
        # block means: consecutive equal fitted values form pools whose
        # mean equals the fitted value
        i = 0
        while i < len(pts):
            j = i
            while j < len(pts) and pts[j][2] == pts[i][2]:
                j += 1
            block = [y for _, y, _ in pts[i:j]]
            import math

            mu = sum(block) / len(block)
            assert pts[i][2] == math.floor(mu * 1e6 + 0.5) / 1e6
            i = j


def test_croston_closed_form_equals_recurrence(spark):
    """The telescoped closed form must equal the textbook Croston
    recurrence (z' = z + a(y - z); p' = p + a(gap - p), updated only on
    demand days) run as a pure-Python fold — to within fold-order ulps
    under the 1e-6 grid."""
    from collections import defaultdict

    from conftest import SF_SMALL
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.queries.ml import _CR_ALPHA
    from move_forecast_ind_spark.sources import load_table

    rows = REGISTRY["ml_croston_intermittent"].fn(spark, SF_SMALL).collect()
    ev = load_table(spark, SF_SMALL, "events").filter(
        "event_type = 'purchase'"
    ).selectExpr("user_id", "CAST(ts AS DATE) AS day").collect()
    daily = defaultdict(lambda: defaultdict(int))
    for r in ev:
        daily[r.user_id][r.day] += 1
    expected = {}
    for u, dd in daily.items():
        days = sorted(dd)
        if len(days) < 2:
            continue
        z = float(dd[days[0]])
        p = float((days[1] - days[0]).days)
        for i, day in enumerate(days[1:], start=1):
            gap = (day - days[i - 1]).days
            z = z + _CR_ALPHA * (dd[day] - z)
            if i >= 2:
                p = p + _CR_ALPHA * (gap - p)
        expected[u] = (len(days), z, p)
    assert {r.user_id for r in rows} == set(expected)
    for r in rows:
        m, z, p = expected[r.user_id]
        assert r.n_demands == m
        assert abs(r.demand_size - z) < 2e-6
        assert abs(r.demand_interval - p) < 2e-6
        assert abs(r.forecast_rate - z / p) < 2e-6


def test_classifier_eval_matches_pairwise_auc(spark):
    """The rank-based AUC must equal the O(n²) pairwise definition
    (ties counted half) on the same (p, y) pairs, Brier must match a
    direct mean, and the reliability bins must partition the pairs."""
    from conftest import SF_SMALL
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.queries.ml import _eval_pairs

    pairs = [(r.p, r.y) for r in _eval_pairs(spark, SF_SMALL).collect()]
    pos = [p for p, y in pairs if y == 1]
    neg = [p for p, y in pairs if y == 0]
    wins = sum(1.0 if pp > pn else 0.5 if pp == pn else 0.0
               for pp in pos for pn in neg)
    auc = wins / (len(pos) * len(neg))
    brier = sum((p - y) ** 2 for p, y in pairs) / len(pairs)

    row = REGISTRY["ml_classifier_auc"].fn(spark, SF_SMALL).collect()[0]
    assert row.n == len(pairs)
    assert row.n_pos == len(pos)
    assert row.n_neg == len(neg)
    assert abs(row.auc - auc) < 2e-6
    assert abs(row.brier - brier) < 2e-6

    bins = REGISTRY["ml_reliability_bins"].fn(spark, SF_SMALL).collect()
    assert sum(b.n for b in bins) == len(pairs)
    for b in bins:
        members = [
            (p, y) for p, y in pairs
            if min(int(p * 10) + 1, 10) == b.bin
        ]
        assert b.n == len(members)
        assert abs(b.mean_prob - sum(p for p, _ in members) / b.n) < 2e-6
        assert abs(
            b.frac_positive - sum(y for _, y in members) / b.n
        ) < 2e-6


def test_target_encoding_is_leakage_free(spark):
    """Every (cat, fold) encoding must equal the smoothed mean computed
    ONLY from other folds' rows (Python replica), and fold assignment
    must match the md5 parity."""
    import hashlib
    from collections import defaultdict

    from conftest import SF_SMALL
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.queries.ml import _TE_FOLDS, _TE_SMOOTH
    from move_forecast_ind_spark.sources import load_table

    rows = REGISTRY["ml_target_encoding"].fn(spark, SF_SMALL).collect()
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).collect()

    def fold(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % _TE_FOLDS

    data = defaultdict(list)
    for o in orders:
        data[(o.o_orderpriority, fold(o.o_orderkey))].append(o.o_totalprice)
    all_sum = sum(v for vs in data.values() for v in vs)
    all_n = sum(len(vs) for vs in data.values())
    assert {(r.cat, r.fold) for r in rows} == set(data)
    for r in rows:
        own = data[(r.cat, r.fold)]
        assert r.n_in_fold == len(own)
        oof = [
            v
            for (c, f), vs in data.items()
            if c == r.cat and f != r.fold
            for v in vs
        ]
        assert r.n_oof == len(oof)
        gmean_oof = (all_sum - sum(own)) / (all_n - len(own))
        enc = (sum(oof) + _TE_SMOOTH * gmean_oof) / (len(oof) + _TE_SMOOTH)
        assert abs(r.encoded - enc) < 2e-4
