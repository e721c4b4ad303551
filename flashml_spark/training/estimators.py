"""Estimator factory (SURVEY §2.9, ``core/modeltraining/ModelTrainingUtils.scala``).

Seven algorithms with the reference's defaults (seed 999 everywhere a seed
applies — ``ModelTrainingEngine.scala:31``); the param-grid builder for
tuning (``ModelTrainingUtils.scala:79-174``); and the one fit path every
fitted model goes through (``fit``).
"""

from __future__ import annotations

import itertools

from pyspark.ml.classification import (
    DecisionTreeClassifier,
    GBTClassifier,
    LinearSVC,
    LogisticRegression,
    MultilayerPerceptronClassifier,
    NaiveBayes,
    RandomForestClassifier,
)
from pyspark.ml.feature import StringIndexer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SEED = 999

ALGORITHMS = ("logistic_regression", "svm", "naive_bayes", "random_forest",
              "gradient_boosted_trees", "decision_tree", "multilayer_perceptron")


def build_label_indexer(
    label_col: str, multi_intent: bool = False, indexed_col: str | None = None
) -> StringIndexer:
    """Response indexing policy (``ModelTrainingEngine.scala:130-149``):
    binary → frequency order; multi-intent → ``alphabetAsc`` with
    ``handleInvalid='skip'``."""
    return StringIndexer(
        inputCol=label_col,
        outputCol=indexed_col or f"{label_col}_indexed",
        stringOrderType="alphabetAsc" if multi_intent else "frequencyDesc",
        handleInvalid="skip" if multi_intent else "error",
    )


def sniff_feature_dim(df: DataFrame, features_col: str = "features") -> int:
    """Input layer size from one vectorized row
    (``ModelTrainingUtils.scala:28-38``)."""
    row = df.select(features_col).first()
    return len(row[features_col])


def count_classes(df: DataFrame, label_col: str) -> int:
    """Output layer size from distinct labels (``ModelTrainingUtils.scala:40-48``)."""
    return df.select(F.countDistinct(label_col)).first()[0]


def build_estimator(
    algorithm: str,
    features_col: str = "features",
    label_col: str = "label",
    params: dict | None = None,
    train_df: DataFrame | None = None,
):
    """Instantiate one of the seven supported estimators with FlashML's
    defaults (``ModelTrainingUtils.scala:204-379``)."""
    p = dict(params or {})
    algorithm = algorithm.lower()
    common = dict(featuresCol=features_col, labelCol=label_col)
    if algorithm == "logistic_regression":
        return LogisticRegression(
            tol=p.get("tol", 1e-6),
            fitIntercept=p.get("fitIntercept", True),
            regParam=p.get("regParam", 0.0),
            maxIter=p.get("maxIter", 100),
            elasticNetParam=p.get("elasticNetParam", 0.0),
            standardization=p.get("standardization", True),
            **common,
        )
    if algorithm == "svm":
        return LinearSVC(
            tol=p.get("tol", 1e-6),
            regParam=p.get("regParam", 0.0),
            maxIter=p.get("maxIter", 100),
            standardization=p.get("standardization", True),
            **common,
        )
    if algorithm == "naive_bayes":
        return NaiveBayes(
            smoothing=p.get("smoothing", 1.0),
            modelType=p.get("modelType", "multinomial"),
            **common,
        )
    if algorithm == "random_forest":
        return RandomForestClassifier(
            numTrees=p.get("numTrees", 20),
            impurity=p.get("impurity", "gini"),
            maxDepth=p.get("maxDepth", 5),
            featureSubsetStrategy=p.get("featureSubsetStrategy", "auto"),
            seed=p.get("seed", DEFAULT_SEED),
            **common,
        )
    if algorithm == "gradient_boosted_trees":
        return GBTClassifier(
            maxIter=p.get("maxIter", 20),
            maxDepth=p.get("maxDepth", 5),
            featureSubsetStrategy=p.get("featureSubsetStrategy", "all"),
            seed=p.get("seed", DEFAULT_SEED),
            **common,
        )
    if algorithm == "decision_tree":
        return DecisionTreeClassifier(
            impurity=p.get("impurity", "gini"),
            maxDepth=p.get("maxDepth", 5),
            maxBins=p.get("maxBins", 32),
            cacheNodeIds=p.get("cacheNodeIds", False),
            seed=p.get("seed", DEFAULT_SEED),
            **common,
        )
    if algorithm == "multilayer_perceptron":
        if train_df is None:
            raise ValueError("multilayer_perceptron needs train_df to size its layers")
        # layers = [inputDim] ++ hidden ++ [numClasses] (ModelTrainingUtils.scala:341-361)
        input_dim = sniff_feature_dim(train_df, features_col)
        n_classes = count_classes(train_df, label_col)
        layers = [input_dim] + list(p.get("hiddenLayers", [10])) + [n_classes]
        return MultilayerPerceptronClassifier(
            layers=layers,
            maxIter=p.get("maxIter", 100),
            blockSize=p.get("blockSize", 128),
            seed=p.get("seed", DEFAULT_SEED),
            **common,
        )
    raise ValueError(f"unknown algorithm {algorithm!r}; pick from {ALGORITHMS}")


def build_param_grid(estimator, grid_spec: dict[str, list]) -> list[dict]:
    """Cartesian param grid from config arrays
    (``ModelTrainingUtils.scala:79-174``), e.g.
    ``{"regParam": [0.01, 0.1], "maxIter": [50, 100]}`` gives four
    ``{name: value}`` maps, in sorted-name order; an empty spec gives
    ``[{}]``.  The reference grids MLP hidden layers as
    ``intermediateLayers`` (``[[4,4],[5,5]]``,
    ``ModelTrainingUtils.scala:341-361``); the Spark param is the full
    layer spec, so each hidden spec is wrapped with the input and output
    sizes ``estimator`` already sniffed from the data."""
    spec = dict(grid_spec)
    if isinstance(estimator, MultilayerPerceptronClassifier):
        full = estimator.getLayers()
        for alias in ("intermediateLayers", "hiddenLayers"):
            if alias in spec:
                spec["layers"] = [
                    [int(full[0]), *map(int, h), int(full[-1])] for h in spec.pop(alias)
                ]
    names = sorted(spec)
    return [dict(zip(names, vals)) for vals in itertools.product(*[spec[n] for n in names])]


def with_params(est, params: dict, max_iter: int | None = None):
    """A copy of ``est`` with the Spark param map ``params`` set, plus
    ``maxIter`` when ``max_iter`` is given and ``est`` has that param
    (HyperBand's rung budget).  An estimator-like ensemble that defines
    its own ``with_params`` (``OneVsRestWithScores``) gets the call
    instead, so the tuners treat it as one tunable estimator."""
    if hasattr(est, "with_params"):
        return est.with_params(params, max_iter=max_iter)
    est = est.copy()
    for k, v in params.items():
        est.set(est.getParam(k), v)  # in-place; returns None
    if max_iter is not None and est.hasParam("maxIter"):
        est.set(est.getParam("maxIter"), int(max_iter))
    return est


def fit(est, df: DataFrame, params: dict | None = None, max_iter: int | None = None):
    """Fit ``est`` on ``df`` and strip the model's training summary.  When
    ``params`` or ``max_iter`` is given, a copy made by
    :func:`with_params` is fitted instead, so concurrent tuner fits never
    share an estimator.  Every classifier the package trains goes through
    here."""
    if params is not None or max_iter is not None:
        est = with_params(est, params or {}, max_iter)
    model = est.fit(df)
    strip_training_summary(model)
    return model


def strip_training_summary(model) -> None:
    """Drop a fitted model's training summary from the JVM object.

    The summary pins the SparkSession it was computed with; serializing
    the model into a task closure then drags the whole session along —
    which works only until something non-serializable attaches to the
    session (Spark 4.1's ObservationManager does exactly that the first
    time a ``DataFrame.observe`` runs).  Stripping the summary after fit
    costs nothing (refit metrics live in our own metric frames) and keeps
    model closures session-free.  Scala's ``private[classification]
    setSummary`` is public in bytecode, so the call works from py4j; a
    model type without it is left untouched.
    """
    jobj = getattr(model, "_java_obj", None)
    if jobj is None:
        return
    try:
        from pyspark import SparkContext

        empty = SparkContext._active_spark_context._jvm.scala.Option.empty()
        jobj.setSummary(empty)
    except Exception:
        pass  # no summary / no setter on this model type
