"""ML parity (SURVEY.md §2.10 M1-M3, §2.1 S7/S8).

The reference trains sklearn RandomForestRegressor(n_estimators=100,
random_state=42) on one feature -> one target from the offline query
result, evaluates MSE on a 20% holdout, pickles the model (reference:
historical_features.py:77-102), and serves single-row predictions
(reference: real_time_inference.py:35-59).

Spark-natively: VectorAssembler + pyspark.ml RandomForestRegressor +
RegressionEvaluator, model save/load via Spark ML persistence. Same
structure (numTrees=100, seed=42, 80/20 split) — membership of the
split and the fitted trees differ by RNG, so parity is checked on
structure (split sizes/disjointness, finite small MSE), not bit-
equality (SURVEY.md §7.3).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.linalg import Vectors
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame, SparkSession


@dataclass
class TrainResult:
    model: PipelineModel
    mse: float
    n_train: int
    n_test: int


def train_regressor(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    num_trees: int = 100,
    seed: int = 42,
    test_fraction: float = 0.2,
) -> TrainResult:
    """M1+M2: 80/20 split (seed 42) then RandomForest fit — the
    reference's training recipe (historical_features.py:81-85)."""
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    rf = RandomForestRegressor(
        featuresCol="features", labelCol=label_col, numTrees=num_trees, seed=seed
    )
    train, test = df.randomSplit([1.0 - test_fraction, test_fraction], seed=seed)
    model = Pipeline(stages=[assembler, rf]).fit(train)
    predictions = model.transform(test)
    mse = RegressionEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="mse"
    ).evaluate(predictions)
    return TrainResult(model=model, mse=mse, n_train=train.count(), n_test=test.count())


def save_model(result_model: PipelineModel, path: str) -> None:
    """S7: model sink (Spark ML persistence instead of pickle+S3)."""
    result_model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    """S8: model source."""
    return PipelineModel.load(path)


def predict(model: PipelineModel, df: DataFrame) -> DataFrame:
    """M3: batch prediction."""
    return model.transform(df)


def predict_single(
    model: PipelineModel,
    spark: SparkSession,
    feature_cols: list[str],
    values: list[float],
) -> float:
    """M3: single-row prediction — the online inference path
    (reference: real_time_inference.py:50-59). The fitted forest (the
    pipeline's last stage) predicts on the driver, so the call runs no
    Spark job; ``spark`` is unused. A None or NaN value raises, as the
    pipeline's VectorAssembler (handleInvalid="error") does."""
    if len(values) != len(feature_cols):
        raise ValueError(f"{len(values)} values for {len(feature_cols)} features {feature_cols}")
    bad = [c for c, v in zip(feature_cols, values) if v is None or math.isnan(v)]
    if bad:
        raise ValueError(f"null or NaN feature value in {bad} (handleInvalid='error')")
    return float(model.stages[-1].predict(Vectors.dense(values)))
