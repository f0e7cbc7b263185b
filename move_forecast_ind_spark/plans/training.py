"""Per-branch time-series model training and scoring (SURVEY.md §2.9 M1-M3).

The reference trains one Prophet model per branch in a serial Python loop and
pickles each to disk (reference pretrain_models.py:18-33, hyperparameters:
daily+yearly seasonality, multiplicative, changepoint_prior_scale=0.01,
seasonality_prior_scale=15.0), then at serve time loads all pickles into a
dict and predicts per request, keeping the stochastic ``yhat_upper`` 80 %
upper bound (main.py:166-185, 230-236).

Spark-first redesign:

- **The model** is a *deterministic surrogate* of Prophet's published
  additive form: linear trend + Fourier seasonality (yearly K terms +
  weekly K terms), fit by ordinary least squares. Prophet's own
  ``yhat_upper`` is sampling-based and not a sane parity target
  (SURVEY.md §2.9 ⚠); the surrogate's upper bound is the closed-form
  ``yhat + z80 * sigma`` with sigma the training residual stddev.
- **Training is an aggregate, then a driver solve.** OLS needs only its
  sufficient statistics, so ONE ``groupBy(branch).agg`` yields every
  branch's quantized normal equations as exact long sums; the driver
  collects one row per branch (~110 in the reference) and solves each
  12×12 system. No Python worker runs, so the fit works from any cwd,
  and the DuckDB oracle (queries/ml.py ``_fourier_model_ctes``)
  reproduces it bit-for-bit.
- **The model registry is a DataFrame** (branch, coeffs array<double>,
  sigma, n_obs) — not 110 pickle files. The scorer reads its rows
  directly; at scale it persists as one parquet file (S4/S6 analog).
- **Scoring is pure column arithmetic**: rebuild the feature vector with
  built-in functions and dot it with the coefficient array via
  ``zip_with``+``aggregate`` — no Python on the hot path.
"""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EPOCH = "1995-01-01"  # t origin for the trend feature
YEARLY_K = 3
WEEKLY_K = 2
Z80 = 1.2815515655446004  # 80% two-sided upper quantile of N(0,1)

_YEAR_DAYS = 365.25
_WEEK_DAYS = 7.0

# Trend feature is t / T_SCALE so every design-matrix column is O(1): the
# fit stores features on an integer 1e-6 grid and accumulates exact long
# moments — bounded only if features are O(1).
T_SCALE = 1000.0
F_GRID = 1e6  # feature fixed-point grid
Y_GRID = 1e3  # target fixed-point grid
MIN_OBS_Q = 30  # a well-determined 12-coeff system needs this many days

MODEL_SCHEMA = "branch long, coeffs array<double>, sigma double, n_obs long"


def n_features() -> int:
    return 2 + 2 * YEARLY_K + 2 * WEEKLY_K  # intercept, trend, fourier pairs


def fourier_freqs() -> list[float]:
    """Angular frequencies in feature order (yearly then weekly pairs).
    Computed with the exact same float expression everywhere (Spark fit
    and scoring literals, DuckDB oracle literals via repr round-trip)."""
    ws = []
    for k in range(1, YEARLY_K + 1):
        ws.append(2.0 * math.pi * k / _YEAR_DAYS)
    for k in range(1, WEEKLY_K + 1):
        ws.append(2.0 * math.pi * k / _WEEK_DAYS)
    return ws


def feature_sql() -> list[str]:
    """The features of date column ``ds`` as Spark SQL, in coefficient
    order — what :func:`train_models` quantizes and :func:`score` dots.
    SQL strings, not Column builders: each PySpark Column call is several
    py4j round trips, and the fit needs ~100 expressions. Literals carry
    the ``D`` suffix so they parse as doubles, never as decimals."""
    t = f"CAST(datediff(ds, DATE'{EPOCH}') AS DOUBLE)"
    feats = ["1.0D", f"{t} / {T_SCALE!r}D"]
    for w in fourier_freqs():
        feats += [f"sin({t} * {w!r}D)", f"cos({t} * {w!r}D)"]
    return feats


def gauss_jordan_solve(xtx, xty) -> list[float]:
    """No-pivot Gauss-Jordan elimination on the augmented normal-equation
    system, in plain IEEE-754 doubles with a FIXED operation order:
    new[i][j] = old[i][j] - old[i][k] * old[k][j] / old[k][k], row k kept.
    The DuckDB oracle unrolls the identical steps as chained CTEs
    (queries/ml.py), so — given the bit-identical integer moments the
    quantized design guarantees — both engines walk the exact same doubles
    and the solution hashes equal. X'X is symmetric positive-definite for
    any full-rank design, so the unpivoted elimination is stable
    (Cholesky-style positive pivots)."""
    p = len(xty)
    a = [
        [float(xtx[i][j]) for j in range(p)] + [float(xty[i])]
        for i in range(p)
    ]
    for k in range(p):
        old = a
        piv = old[k][k]
        a = [row[:] for row in old]
        for i in range(p):
            if i == k:
                continue
            vik = old[i][k]
            for j in range(p + 1):
                a[i][j] = old[i][j] - vik * old[k][j] / piv
    return [a[i][p] / a[i][i] for i in range(p)]


def train_models(
    daily: DataFrame,  # branch, ds (date), y (double)
    cutoff: str,  # train on ds <= cutoff (reference pretrain_models.py:20)
    min_obs: int = MIN_OBS_Q,
) -> DataFrame:
    """Fit one model per branch, eagerly: one Spark aggregate of the
    quantized normal-equation moments, a driver solve per branch, and the
    registry back as a small DataFrame built from an Arrow table — no
    Python worker. Features (×1e6) and y (×1e3) on integer grids make X'X,
    X'y and y'y exact, order-free long sums, so :func:`gauss_jordan_solve`
    walks the same doubles as the DuckDB oracle. Coefficients are for the
    scaled feature vector, as scoring uses it. Branches with fewer than
    ``min_obs`` days get no row rather than a near-singular fit.

    Raises ``OverflowError`` naming the branch when n·max(|xq|, |yq|)²
    could exceed a long: with ANSI off Spark's long sums wrap silently
    (with ANSI on, Spark raises ARITHMETIC_OVERFLOW first)."""
    p = n_features()
    xs = [f"x{i}" for i in range(p)]
    pairs = [(i, j) for i in range(p) for j in range(i, p)]
    # one bigint array per branch: n, max |value|, y'y, X'y, X'X's upper triangle
    moments = [
        "count(1)",
        f"max(greatest({', '.join(f'abs({c})' for c in [*xs, 'yq'])}))",
        "sum(yq * yq)",
        *[f"sum({x} * yq)" for x in xs],
        *[f"sum({xs[i]} * {xs[j]})" for i, j in pairs],
    ]
    rows = (
        daily.filter(F.col("ds") <= F.lit(cutoff).cast("date"))
        .selectExpr(
            "branch",
            *[f"floor({f} * {F_GRID!r}D + 0.5D) AS {x}" for f, x in zip(feature_sql(), xs)],
            f"floor(CAST(y AS DOUBLE) * {Y_GRID!r}D + 0.5D) AS yq",
        )
        .groupBy("branch")
        .agg(F.expr(f"array({', '.join(moments)}) AS m"))
        .filter(f"m[0] >= {int(min_obs)}")
        .collect()
    )

    cols = {"branch": [], "coeffs": [], "sigma": [], "n_obs": []}
    for branch, m in sorted(rows):
        n = m[0]
        bound = n * max(m[1], 1) ** 2
        if bound >= 2**63:
            raise OverflowError(
                f"branch {branch}: quantized moments could exceed a "
                f"long (worst-case {bound:.3g}); lower Y_GRID or pre-scale "
                "y for series with daily totals this large"
            )
        xty = m[3 : 3 + p]
        xtx = [[0] * p for _ in range(p)]
        for (i, j), v in zip(pairs, m[3 + p :]):
            xtx[i][j] = xtx[j][i] = v
        beta_int = gauss_jordan_solve(xtx, xty)
        lin = quad = 0.0
        for i in range(p):
            lin += float(xty[i]) * beta_int[i]
            for j in range(p):
                quad += float(xtx[i][j]) * beta_int[i] * beta_int[j]
        rss_q = float(m[2]) - 2.0 * lin + quad
        cols["branch"].append(branch)
        # beta_int solves the quantized system, so coefficients on the
        # unquantized scaled features are ×(1e6/1e3).
        cols["coeffs"].append([b * (F_GRID / Y_GRID) for b in beta_int])
        cols["sigma"].append(
            math.sqrt(max(rss_q, 0.0) / (Y_GRID * Y_GRID) / max(n - p, 1))
        )
        cols["n_obs"].append(n)
    # createDataFrame casts the Arrow columns to MODEL_SCHEMA's types
    return daily.sparkSession.createDataFrame(pa.table(cols), MODEL_SCHEMA)


def score(models: DataFrame, start: Column, end: Column) -> DataFrame:
    """Every model branch scored on each day of [start, end], straight off
    the registry rows: (branch, ds, yhat, yhat_upper, count), where count is
    the reference's final Count post-processing (keep upper bound, clip
    ≥ 0, half-up round, cast long — main.py:234-236 P1+F8+F9)."""
    from ..functions.rounding import r4, round_count

    dot = F.aggregate(
        F.zip_with(
            F.col("coeffs"), F.expr(f"array({', '.join(feature_sql())})"), lambda a, b: a * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    upper = dot + F.lit(Z80) * F.col("sigma")
    return models.select(
        "branch", "coeffs", "sigma", F.explode(F.sequence(start, end)).alias("ds")
    ).select(
        "branch",
        "ds",
        r4(dot).alias("yhat"),
        r4(upper).alias("yhat_upper"),
        round_count(F.greatest(upper, F.lit(0.0))).alias("count"),
    )
