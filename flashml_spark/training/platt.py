"""Platt scaling — calibrate SVM margins into probabilities.

Reference: ``org/apache/spark/ml/classification/PlattScalar.scala`` fits a
1-feature binary logistic regression on the margin with Platt's smoothed
FRACTIONAL targets t+ = (N+ + 1)/(N+ + 2), t- = 1/(N- + 2), which required
a forked LR accepting double labels
(``BinaryLogisticRegressionWithDoubleResponse.scala``).

PySpark has no fractional-label LR; we use the mathematically identical
**weighted-row reformulation**: a row with fractional target t contributes
the log-likelihood  t·log p + (1-t)·log(1-p)  — exactly the likelihood of
two rows (label 1, weight t) and (label 0, weight 1-t).  So each scored row
is duplicated into a positive and negative copy with those weights and a
stock ``LogisticRegression(weightCol=...)`` fits A·m + B by MLE.  No fork,
same optimum.

Per-class fits run concurrently (driver thread pool) for OVR models
(``PlattScalar.scala:388-399``).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.ml import Transformer
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable
from flashml_spark.mlio import ParamsWritable
from flashml_spark.training.estimators import strip_training_summary
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pos_neg(y) -> list:
    """Aggregates counting the rows with ``y == 1`` and ``y != 1``."""
    return [
        F.sum(F.when(y == 1.0, 1).otherwise(0)),
        F.sum(F.when(y != 1.0, 1).otherwise(0)),
    ]


def _fit_sigmoid(
    margins: DataFrame, margin_col: str, label_col: str, n_pos: int, n_neg: int
) -> tuple[float, float]:
    """Fit P(y=1|m) = sigmoid(A·m + B) with Platt's target smoothing via
    weighted rows, given the positive and negative row counts.  Returns
    (A, B)."""
    t_pos = (n_pos + 1.0) / (n_pos + 2.0)
    t_neg = 1.0 / (n_neg + 2.0)

    t = F.when(F.col(label_col) == 1.0, F.lit(t_pos)).otherwise(F.lit(t_neg))
    base = margins.select(F.col(margin_col).alias("m"), t.alias("t"))
    doubled = base.select("m", F.lit(1.0).alias("y"), F.col("t").alias("w")).unionAll(
        base.select("m", F.lit(0.0).alias("y"), (1.0 - F.col("t")).alias("w"))
    )
    assembled = VectorAssembler(inputCols=["m"], outputCol="f").transform(doubled)
    lr = LogisticRegression(
        featuresCol="f", labelCol="y", weightCol="w", tol=1e-6, regParam=0.0, maxIter=100
    )
    model = lr.fit(assembled)
    strip_training_summary(model)
    return float(model.coefficients[0]), float(model.intercept)


class PlattScalar:
    """Estimator: fit per-class sigmoid calibrators on margin columns.

    ``fit(scored_train)`` expects either a binary model's ``rawPrediction``
    vector column, or an OVR ``class_scores`` array column (one margin per
    class).  Returns a PlattScalarModel.
    """

    def __init__(self, label_col: str = "label", raw_col: str = "rawPrediction",
                 scores_col: str = "class_scores", parallelism: int = 6):
        self.label_col = label_col
        self.raw_col = raw_col
        self.scores_col = scores_col
        self.parallelism = parallelism

    def fit(self, scored: DataFrame) -> "PlattScalarModel":
        if self.scores_col in scored.columns:
            n_classes = len(scored.select(self.scores_col).first()[0])
            margins = scored.select(
                self.label_col,
                *[
                    F.col(self.scores_col).getItem(k).alias(f"__m{k}")
                    for k in range(n_classes)
                ],
            ).cache()

            def y(k: int):
                return F.when(F.col(self.label_col) == float(k), 1.0).otherwise(0.0)

            # every class's counts in the one pass that fills the cache
            counts = margins.agg(
                *[agg for k in range(n_classes) for agg in _pos_neg(y(k))]
            ).first()

            def fit_k(k: int):
                per_class = margins.select(F.col(f"__m{k}").alias("m"), y(k).alias("y"))
                return _fit_sigmoid(per_class, "m", "y", counts[2 * k], counts[2 * k + 1])

            with ThreadPoolExecutor(max_workers=self.parallelism) as pool:
                coeffs = list(pool.map(fit_k, range(n_classes)))
            margins.unpersist()
            return PlattScalarModel(coeffs, scores_col=self.scores_col)

        margins = scored.select(
            vector_to_array(F.col(self.raw_col)).getItem(1).alias("m"),
            F.col(self.label_col).alias("y"),
        )
        n_pos, n_neg = margins.agg(*_pos_neg(F.col("y"))).first()
        coeffs = [_fit_sigmoid(margins, "m", "y", n_pos, n_neg)]
        return PlattScalarModel(coeffs, raw_col=self.raw_col)


class PlattScalarModel(Transformer, DefaultParamsReadable, ParamsWritable):
    """Transformer: margins → calibrated ``probability`` (array<double>),
    argmax → ``prediction`` (SVM's own prediction kept as
    ``svm_prediction``, ``PlattScalar.scala:363-399``).

    A real :class:`pyspark.ml.Transformer` with ``ParamsWritable``
    persistence (coefficients are plain params), so the calibrator
    round-trips through ``PipelineModel.save``/``load`` exactly like the
    reference's ``PlattScalarModel`` (``PlattScalar.scala:363-399``
    extends ``MLWritable``).
    """

    # flat [a0, b0, a1, b1, ...] so the value is a JSON-serializable param
    coefficients = Param(
        Params._dummy(), "coefficients",
        "flattened per-class sigmoid coefficients [a0,b0,a1,b1,...]",
        typeConverter=TypeConverters.toListFloat,
    )
    rawCol = Param(
        Params._dummy(), "rawCol", "binary rawPrediction vector column",
        typeConverter=TypeConverters.toString,
    )
    scoresCol = Param(
        Params._dummy(), "scoresCol", "OVR per-class margin array column",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self, sigmoids: list[tuple[float, float]] | None = None,
                 raw_col: str = "rawPrediction", scores_col: str = "class_scores"):
        super().__init__()
        self._setDefault(rawCol="rawPrediction", scoresCol="class_scores")
        flat = [float(v) for ab in (sigmoids or []) for v in ab]
        self._set(coefficients=flat, rawCol=raw_col, scoresCol=scores_col)

    @property
    def sigmoids(self) -> list[tuple[float, float]]:
        flat = self.getOrDefault(self.coefficients)
        return [(flat[i], flat[i + 1]) for i in range(0, len(flat), 2)]

    @staticmethod
    def _sigmoid(a: float, b: float, m):
        return 1.0 / (1.0 + F.exp(-(F.lit(a) * m + F.lit(b))))

    def _transform(self, df: DataFrame) -> DataFrame:
        sigmoids = self.sigmoids
        raw_col = self.getOrDefault(self.rawCol)
        scores_col = self.getOrDefault(self.scoresCol)
        out = df
        if "prediction" in out.columns:
            out = out.withColumnRenamed("prediction", "svm_prediction")
        if len(sigmoids) == 1:
            a, b = sigmoids[0]
            m = (
                F.col(scores_col).getItem(0)
                if scores_col in out.columns
                else vector_to_array(F.col(raw_col)).getItem(1)
            )
            pos = self._sigmoid(a, b, m)
            prob = F.array(1.0 - pos, pos)
        else:
            prob = F.array(
                *[
                    self._sigmoid(a, b, F.col(scores_col).getItem(k))
                    for k, (a, b) in enumerate(sigmoids)
                ]
            )
        out = out.withColumn("probability", prob)
        return out.withColumn(
            "prediction",
            (F.array_position(F.col("probability"), F.array_max("probability")) - 1)
            .cast("double"),
        )
