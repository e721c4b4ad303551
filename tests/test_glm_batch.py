"""The batched GLM solver behind grid cross-validation
(``training/glm_batch.py``): Spark's objective at convergence, fold counts
that do not depend on the partition layout, and the per-model path for
everything it does not take."""

from __future__ import annotations

import logging
import pickle

import numpy as np
import pytest
from pyspark.ml.classification import LinearSVC, LogisticRegression, NaiveBayes, OneVsRest
from pyspark.ml.linalg import Vectors
from pyspark.sql import functions as F

from flashml_spark.metrics.multiclass import multiclass_metrics
from flashml_spark.training import glm_batch
from flashml_spark.training.estimators import fit
from flashml_spark.tuning.cv import FOLD_METRICS, CrossValidatorWithFoldMetrics

D = 5
REG = 3.0  # LinearSVC's regParam in the objective test


def _tagged(spark, n: int, classes: int, seed: int, folds: int = 2, nonnegative=False):
    """Gaussian classes in D features (one constant, one on a large
    offset and scale), a fixed fold id per row, and numpy copies."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(classes, D)) * 1.5
    label = rng.integers(0, classes, n)
    x = centers[label] + rng.normal(size=(n, D)) * 1.5
    x[:, 3] = 2.0
    x[:, 4] = x[:, 4] * 10 + 3
    if nonnegative:  # NaiveBayes
        x = np.abs(x)
    fold = np.arange(n) % folds
    rows = [(Vectors.dense(x[i]), float(label[i]), int(fold[i])) for i in range(n)]
    df = spark.createDataFrame(rows, ["features", "label", "__fold"])
    return df, x, label.astype(float), fold


def _batched(est, tagged, folds: int = 2):
    spec, reason = glm_batch.plan(est, [{}], est.getLabelCol())
    assert spec is not None, reason
    return glm_batch.fit_fold_models(spec, glm_batch.fold_data(tagged, spec), folds, D)


def _hinge_objective(x, target, coef, intercept, reg):
    """LinearSVC's objective (standardization on) for original-space
    coefficients."""
    z = x @ coef + intercept
    penalty = (coef * x.std(axis=0, ddof=1)) ** 2
    return np.mean(np.maximum(0.0, 1.0 - (2 * target - 1) * z)) + 0.5 * reg * penalty.sum()


@pytest.fixture
def in_process_passes(monkeypatch):
    """Run the solver's passes in-process over one Arrow copy of each
    frame.  A fit to convergence takes tens to hundreds of line-search
    passes, minutes as Spark jobs; the other tests run the Spark passes."""
    tables = {}

    def collect(data, task):
        if id(data) not in tables:
            tables[id(data)] = (data, data.toArrow())
        batches = tables[id(data)][1].to_batches()
        return [pickle.loads(b.column(0)[0].as_py()) for b in task(iter(batches))]

    monkeypatch.setattr(glm_batch, "_collect", collect)


@pytest.mark.parametrize("standardization", [True, False])
def test_logistic_regression_matches_spark_at_convergence(spark, in_process_passes,
                                                          standardization):
    df, *_ = _tagged(spark, 300, 2, seed=3)
    est = LogisticRegression(regParam=0.01, tol=1e-10, maxIter=1000,
                             standardization=standardization)
    models = _batched(est, df)
    for f in range(2):
        ref = est.fit(df.filter(F.col("__fold") != f))
        i = models.keys.index((0, f, 1))
        coef = ref.coefficients.toArray()
        assert np.max(np.abs(models.coef[i] - coef)) <= 1e-6 * np.max(np.abs(coef))
        assert models.coef[i][3] == 0.0  # the constant feature
        assert models.intercept[i] == pytest.approx(ref.intercept, rel=1e-6)


@pytest.mark.parametrize("classes", [2, 4])
def test_linear_svc_objective_no_worse_than_spark(spark, in_process_passes, classes):
    """The hinge loss is not smooth, so each solver stops short of the
    optimum, where its own tests say; the batched one must end no higher
    than Spark's."""
    df, x, label, fold = _tagged(spark, 240, classes, seed=5)
    svc = LinearSVC(regParam=REG, tol=1e-10, maxIter=1000)
    est = OneVsRest(classifier=svc) if classes > 2 else svc
    models = _batched(est, df)
    ref = est.fit(df.filter(F.col("__fold") != 0))
    refs = ref.models if classes > 2 else [None, ref]
    train = fold != 0
    for k in range(1, classes) if classes == 2 else range(classes):
        i = models.keys.index((0, 0, k))
        target = (label[train] == k).astype(float)
        mine = _hinge_objective(x[train], target, models.coef[i], models.intercept[i], REG)
        theirs = _hinge_objective(x[train], target, refs[k].coefficients.toArray(),
                                  refs[k].intercept, REG)
        assert mine <= theirs * (1 + 1e-6), (k, mine, theirs)


@pytest.mark.parametrize("kind", ["lr", "svc", "ovr_svc"])
def test_fold_counts_do_not_depend_on_partitions(spark, monkeypatch, kind):
    est = {"lr": lambda: LogisticRegression(maxIter=8),
           "svc": lambda: LinearSVC(maxIter=5),
           "ovr_svc": lambda: OneVsRest(classifier=LinearSVC(maxIter=5))}[kind]()
    df, *_ = _tagged(spark, 300, 4 if kind == "ovr_svc" else 2, seed=7, folds=3)
    grid = [{"regParam": 0.01}, {"regParam": 1.0}]
    counts = []
    batched = glm_batch.fold_pair_counts
    monkeypatch.setattr(glm_batch, "fold_pair_counts",
                        lambda *a: counts.append(batched(*a)) or counts[-1])
    runs = []
    for parts in (1, 3, 8):
        cv = CrossValidatorWithFoldMetrics(est, grid, num_folds=3)
        cv._fit_folds(df.repartition(parts))
        runs.append((counts[-1], cv.fold_metrics_, cv.best_params_))
    assert runs[0][0] is not None and len(runs[0][0]) == 6  # 2 param maps x 3 folds
    assert runs[1] == runs[0] and runs[2] == runs[0]


def _per_model_fold_metrics(est, grid, tagged, folds):
    """Today's per-model arithmetic, written out: one Spark fit per
    (param map, fold), scored on the fold."""
    rows = []
    for p, params in enumerate(grid):
        for f in range(folds):
            model = fit(est, tagged.filter(F.col("__fold") != f).drop("__fold"), params)
            m = multiclass_metrics(model.transform(tagged.filter(F.col("__fold") == f)))
            rows.append({**{k: m[v] for k, v in FOLD_METRICS.items()},
                         "param_index": p, "fold": f})
    return rows


@pytest.mark.parametrize("case", ["grid_param", "naive_bayes", "over_budget"])
def test_other_fits_take_the_per_model_path(spark, monkeypatch, caplog, case):
    df, *_ = _tagged(spark, 150, 2, seed=11, nonnegative=case == "naive_bayes")
    est, grid = LogisticRegression(maxIter=10), [{"regParam": 0.0}, {"regParam": 0.5}]
    if case == "grid_param":
        grid = [{"regParam": 0.1, "fitIntercept": True}, {"regParam": 0.1, "fitIntercept": False}]
    elif case == "naive_bayes":
        est, grid = NaiveBayes(), [{"smoothing": 1.0}, {"smoothing": 0.5}]
    else:
        monkeypatch.setattr(glm_batch, "_BYTE_BUDGET", 1)
    cv = CrossValidatorWithFoldMetrics(est, grid, num_folds=2)
    with caplog.at_level(logging.INFO, logger="flashml_spark.tuning"):
        cv._fit_folds(df)
    assert "per-model fits" in caplog.text and "batched fit" not in caplog.text
    assert cv.fold_metrics_ == _per_model_fold_metrics(est, grid, df, 2)


def test_batched_cv_scores_like_spark_models_at_convergence(spark, in_process_passes, caplog):
    """At convergence the batched fold models are Spark's, so the fold
    metrics equal the per-model path's."""
    df, *_ = _tagged(spark, 300, 2, seed=13, folds=3)
    est = LogisticRegression(tol=1e-10, maxIter=1000)
    grid = [{"regParam": 0.01}, {"regParam": 0.3}]
    cv = CrossValidatorWithFoldMetrics(est, grid, num_folds=3)
    with caplog.at_level(logging.INFO, logger="flashml_spark.tuning"):
        cv._fit_folds(df)
    assert "batched fit of 6 models" in caplog.text
    assert cv.fold_metrics_ == _per_model_fold_metrics(est, grid, df, 3)
