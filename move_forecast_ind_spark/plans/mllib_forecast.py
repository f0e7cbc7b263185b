"""MLlib-idiomatic forecasting tier (BASELINE.json: "Spark DataFrame +
MLlib for forecasting pipeline").

Complements plans/training.py (per-branch OLS: one aggregate of quantized
moments, then a driver solve) with a single **global** ``pyspark.ml`` model:
branch one-hot × (trend + day-of-week one-hot + Fourier yearly terms)
through a Pipeline of OneHotEncoder + VectorAssembler +
LinearRegression(solver="normal").

Why both tiers exist: per-branch models match the reference's
architecture 1:1 (one model per branch) and are oracle-checked; the global
MLlib model shares statistical strength across branches, trains as ONE
distributed job (normal-equation solve over the whole feature matrix — no
per-group pandas), and rides MLlib's Pipeline persistence. The features are
deterministic; solver="normal" is a closed-form solve, so scores are
replayable run-to-run.
"""

from __future__ import annotations

import math

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import OneHotEncoder, VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPOCH = "1995-01-01"
YEARLY_K = 2


def _with_features(daily: DataFrame) -> DataFrame:
    """trend + dow index + yearly Fourier columns (deterministic)."""
    t = F.datediff(F.col("ds"), F.lit(EPOCH).cast("date")).cast("double")
    out = daily.withColumn("t", t).withColumn(
        "dow", (F.dayofweek("ds") - 1).cast("double")
    )
    for k in range(1, YEARLY_K + 1):
        w = 2.0 * math.pi * k / 365.25
        out = out.withColumn(f"sin_y{k}", F.sin(F.col("t") * w))
        out = out.withColumn(f"cos_y{k}", F.cos(F.col("t") * w))
    return out


def _feature_cols() -> list[str]:
    return ["t", *(f"sin_y{k}" for k in range(1, YEARLY_K + 1)),
            *(f"cos_y{k}" for k in range(1, YEARLY_K + 1))]


def fit_global_model(daily: DataFrame) -> PipelineModel:
    """One distributed fit over all branches: branch one-hot + shared
    seasonal/trend features → LinearRegression (normal-equation solver)."""
    feats = _with_features(daily)
    encoder = OneHotEncoder(
        inputCols=["branch", "dow_i"], outputCols=["branch_oh", "dow_oh"],
        handleInvalid="keep",
    )
    assembler = VectorAssembler(
        inputCols=["branch_oh", "dow_oh", *_feature_cols()], outputCol="features"
    )
    lr = LinearRegression(
        featuresCol="features", labelCol="y", solver="normal", regParam=1e-6
    )
    pipe = Pipeline(stages=[encoder, assembler, lr])
    return pipe.fit(feats.withColumn("dow_i", F.col("dow").cast("int")))


def score_global_model(model: PipelineModel, frame: DataFrame) -> DataFrame:
    """Score a (branch, ds) frame; output matches plans.training.score's
    shape (yhat + non-negative rounded count)."""
    from ..functions.rounding import r4, round_count

    feats = _with_features(frame).withColumn("dow_i", F.col("dow").cast("int"))
    pred = model.transform(feats)
    return pred.select(
        "branch",
        "ds",
        r4(F.col("prediction")).alias("yhat"),
        round_count(F.greatest(F.col("prediction"), F.lit(0.0))).alias("count"),
    )
