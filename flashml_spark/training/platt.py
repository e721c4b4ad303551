"""Platt scaling — calibrate SVM margins into probabilities.

Reference: ``org/apache/spark/ml/classification/PlattScalar.scala`` fits,
per class, a 1-feature binary logistic regression P(y=1|m) = sigmoid(A·m +
B) on the margin m with Platt's smoothed FRACTIONAL targets
t+ = (N+ + 1)/(N+ + 2), t- = 1/(N- + 2), which required a forked LR
accepting double labels (``BinaryLogisticRegressionWithDoubleResponse
.scala``).

The margins come from the model's ``rawPrediction`` vector.  A binary
model's margin is ``rawPrediction[1]`` and gets one sigmoid.  A
one-vs-rest model (pyspark's ``OneVsRestModel``) keeps class k's margin
in ``rawPrediction[k]``, and each class gets its own sigmoid; the caller
says which, from the fitted model's type, because a 2-class OVR vector
looks like a binary one.

Every class is fitted in ONE Spark query: a long frame of ``(k, m, y)``
rows is grouped by class, and each group minimizes the fractional-label
log-loss with Newton's method and a backtracking line search (Lin, Lin &
Weng 2007, the solver LIBSVM uses for Platt scaling).  Same objective, so
the same MLE as the reference, without one distributed LR — and its
dozens of Spark jobs — per class.  Each group sorts its rows by
``(m, y)`` before summing, so A and B do not depend on row order or
partitioning.

Scale note: one class's ``(m, y)`` margins (16 B per training row) sit in
ONE Python worker — fine into the ~10^8 rows/class range, a cliff beyond.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.ml import Transformer
from pyspark.ml.functions import vector_to_array
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable
from flashml_spark.mlio import ParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_ITER = 100
_MIN_STEP = 1e-10
_RIDGE = 1e-12
_ARMIJO = 1e-4
_GRAD_TOL = 1e-10  # per training row, on the gradient's infinity norm


def _platt_loss(a: float, b: float, m: np.ndarray, t: np.ndarray) -> float:
    """Fractional-label log-loss  sum log(1 + e^z) - t·z,  z = a·m + b."""
    z = a * m + b
    return float(np.sum(np.logaddexp(0.0, z) - t * z))


def _fit_sigmoid(m: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    """Fit P(y=1|m) = sigmoid(A·m + B) to one class's margins with Platt's
    smoothed targets; returns (A, B).  ``y`` is 1.0 for the class's rows
    and 0.0 otherwise.  NaN coefficients if any margin is non-finite."""
    if not np.isfinite(m).all():
        return math.nan, math.nan
    order = np.lexsort((y, m))
    m, y = m[order], y[order]
    n_pos = int(np.count_nonzero(y == 1.0))
    n_neg = len(y) - n_pos
    t = np.where(y == 1.0, (n_pos + 1.0) / (n_pos + 2.0), 1.0 / (n_neg + 2.0))
    a, b = 0.0, math.log((n_pos + 1.0) / (n_neg + 1.0))
    loss = _platt_loss(a, b, m, t)
    for _ in range(_MAX_ITER):
        z = a * m + b
        p = np.exp(-np.logaddexp(0.0, -z))  # sigmoid(z), no overflow
        r = p - t
        g = np.array([np.dot(r, m), np.sum(r)])
        if np.max(np.abs(g)) <= _GRAD_TOL * len(m):
            break
        w = p * (1.0 - p)
        wm = np.dot(w, m)
        h = np.array([[np.dot(w, m * m), wm], [wm, np.sum(w)]]) + _RIDGE * np.eye(2)
        d = -np.linalg.solve(h, g)
        descent = float(g @ d)
        step = 1.0
        while step >= _MIN_STEP:
            a_new, b_new = a + step * d[0], b + step * d[1]
            new_loss = _platt_loss(a_new, b_new, m, t)
            if new_loss <= loss + _ARMIJO * step * descent:
                a, b, loss = a_new, b_new, new_loss
                break
            step /= 2.0
        else:  # no step decreases the loss: at the optimum to float precision
            break
    return float(a), float(b)


def _fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
    a, b = _fit_sigmoid(pdf["m"].to_numpy(dtype=float), pdf["y"].to_numpy(dtype=float))
    return pd.DataFrame({"k": [int(pdf["k"].iloc[0])], "a": [a], "b": [b]})


class PlattScalar:
    """Estimator: fit sigmoid calibrators on a scored frame's
    ``rawPrediction`` margins — one binary sigmoid, or one per class when
    ``per_class`` (the scores of a one-vs-rest model).  Returns a
    PlattScalarModel.  Every class is fitted in one Spark query (a grouped
    Newton solve, see the module docstring).
    """

    def __init__(self, label_col: str = "label", raw_col: str = "rawPrediction",
                 per_class: bool = False):
        self.label_col = label_col
        self.raw_col = raw_col
        self.per_class = per_class

    def fit(self, scored: DataFrame) -> "PlattScalarModel":
        label = F.col(self.label_col).alias("__label")
        margins = vector_to_array(F.col(self.raw_col))
        if self.per_class:
            long = scored.select(F.posexplode(margins).alias("k", "m"), label)
            y = F.col("__label") == F.col("k")
        else:
            long = scored.select(F.lit(0).alias("k"), margins.getItem(1).alias("m"), label)
            y = F.col("__label") == 1.0
        long = long.select("k", "m", F.when(y, 1.0).otherwise(0.0).alias("y"))
        rows = sorted(
            long.groupBy("k")
            .applyInPandas(_fit_group, "k int, a double, b double")
            .collect()
        )
        if not rows:
            raise ValueError("PlattScalar.fit needs at least one scored row")
        # a NaN coefficient comes back as null through Arrow
        bad = [r.k for r in rows
               if not all(v is not None and math.isfinite(v) for v in (r.a, r.b))]
        if bad:
            raise ValueError(f"PlattScalar.fit: non-finite margin for class(es) {bad}")
        return PlattScalarModel([(r.a, r.b) for r in rows], raw_col=self.raw_col)


class PlattScalarModel(Transformer, DefaultParamsReadable, ParamsWritable):
    """Transformer: ``rawPrediction`` margins → calibrated ``probability``
    (array<double>), argmax → ``prediction`` (SVM's own prediction kept as
    ``svm_prediction``, ``PlattScalar.scala:363-399``).  One sigmoid reads
    the binary margin ``rawPrediction[1]`` and gives ``[1 - p, p]``; k
    sigmoids read the k one-vs-rest margins ``rawPrediction[0..k-1]``.

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
        Params._dummy(), "rawCol", "rawPrediction margin vector column",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self, sigmoids: list[tuple[float, float]] | None = None,
                 raw_col: str = "rawPrediction"):
        super().__init__()
        self._setDefault(rawCol="rawPrediction")
        flat = [float(v) for ab in (sigmoids or []) for v in ab]
        self._set(coefficients=flat, rawCol=raw_col)

    @property
    def sigmoids(self) -> list[tuple[float, float]]:
        flat = self.getOrDefault(self.coefficients)
        return [(flat[i], flat[i + 1]) for i in range(0, len(flat), 2)]

    @staticmethod
    def _sigmoid(a: float, b: float, m):
        return 1.0 / (1.0 + F.exp(-(F.lit(a) * m + F.lit(b))))

    def _transform(self, df: DataFrame) -> DataFrame:
        sigmoids = self.sigmoids
        margins = vector_to_array(F.col(self.getOrDefault(self.rawCol)))
        out = df
        if "prediction" in out.columns:
            out = out.withColumnRenamed("prediction", "svm_prediction")
        if len(sigmoids) == 1:
            a, b = sigmoids[0]
            pos = self._sigmoid(a, b, margins.getItem(1))
            prob = F.array(1.0 - pos, pos)
        else:
            prob = F.array(
                *[self._sigmoid(a, b, margins.getItem(k)) for k, (a, b) in enumerate(sigmoids)]
            )
        out = out.withColumn("probability", prob)
        return out.withColumn(
            "prediction",
            (F.array_position(F.col("probability"), F.array_max("probability")) - 1)
            .cast("double"),
        )
