"""Cross-validation with fold-level metric logging and best-model refit.

Reference: ``org/apache/spark/ml/tuning/CrossValidatorCustom.scala:124-306``
— k-fold, per fold × per ParamMap parallel fits, fold-level Multiclass
metrics (accuracy / weightedPrecision / weightedRecall / F1), averaged,
best picked by a configured metric (default weightedPrecision,
``FlashMLConstants.scala:217``), refit on full data.

DataFrame-native folds: a seeded ``rand`` fold id (no RDD ``MLUtils.kFold``)
— one pass tags every row, each fold is a filter over the cached tagged
frame.  A LinearSVC or binary LogisticRegression grid (alone or inside
one-vs-rest) is scored by ``training.glm_batch``: every (param map, fold,
class) model in one batched solve, a Spark pass per optimizer step, and
the fold metrics from one counting pass.  Anything else — and any run
that saves fold predictions — fits each (param map, fold) as an
independent Spark model from a driver thread pool of ``parallelism``
threads (the reference's semantics).  The refit of the best param map is
always Spark's own fit.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from flashml_spark.metrics.multiclass import multiclass_metrics, pair_metrics
from flashml_spark.training import glm_batch
from flashml_spark.training.estimators import fit
from pyspark.sql import functions as F

log = logging.getLogger("flashml_spark.tuning")

# fold metric (Spark evaluator name) -> its multiclass_metrics key
FOLD_METRICS = {
    "accuracy": "accuracy",
    "weightedPrecision": "weightedPrecision",
    "weightedRecall": "weightedRecall",
    "f1": "weightedF1",
}


class CrossValidatorWithFoldMetrics:
    def __init__(
        self,
        estimator,
        param_maps: list[dict],
        label_col: str = "label",
        metric: str = "weightedPrecision",
        num_folds: int = 3,
        seed: int = 999,
        parallelism: int = 3,
        predict_savepoint_path: str | None = None,
        predict_savepoint_cols: list[str] | None = None,
    ):
        self.estimator = estimator
        self.param_maps = param_maps
        self.label_col = label_col
        self.metric = metric
        self.num_folds = num_folds
        self.seed = seed
        self.parallelism = parallelism
        # fold-level prediction savepoint (CrossValidatorCustom.scala:283-300):
        # the best param map's per-fold validation predictions, written as one
        # parquet dataset for later threshold calculation
        self.predict_savepoint_path = predict_savepoint_path
        self.predict_savepoint_cols = predict_savepoint_cols
        # populated by fit():
        self.fold_metrics_: list[dict] = []
        self.avg_metrics_: list[float] = []
        self.best_index_: int | None = None
        self.best_params_: dict | None = None

    def fit(self, df: DataFrame):
        tagged = df.withColumn(
            "__fold", (F.rand(self.seed) * self.num_folds).cast("int")
        ).cache()
        try:
            tagged.count()
            self._fit_folds(tagged)
        finally:
            tagged.unpersist()
        # refit best on the full data (CrossValidatorCustom.scala:268-306)
        return fit(self.estimator, df, self.best_params_)

    def _fit_folds(self, tagged: DataFrame) -> None:
        """Score every (param map, fold) pair, pick the best param map and
        write its fold predictions when a savepoint is set."""
        tasks = [
            (p_idx, fold)
            for p_idx in range(len(self.param_maps))
            for fold in range(self.num_folds)
        ]

        scored_frames: dict[tuple[int, int], DataFrame] = {}

        def fold_row(metrics, p_idx, fold):
            row = {m: metrics[key] for m, key in FOLD_METRICS.items()}
            row.update(param_index=p_idx, fold=fold)
            return row

        def run(task):
            p_idx, fold = task
            train = tagged.filter(F.col("__fold") != fold).drop("__fold")
            val = tagged.filter(F.col("__fold") == fold).drop("__fold")
            model = fit(self.estimator, train, self.param_maps[p_idx])
            scored = model.transform(val)
            if self.predict_savepoint_path is not None:
                # lazy plan over the fitted model — writing later re-runs only
                # the transform, never the fit
                scored_frames[(p_idx, fold)] = scored
            # one confusion-matrix collect gives all four metrics
            return fold_row(multiclass_metrics(scored, self.label_col, "prediction"), p_idx, fold)

        counts = None
        if self.predict_savepoint_path is not None:
            log.info("tuning.cv: per-model fits: fold predictions are saved")
        else:
            counts = glm_batch.fold_pair_counts(
                self.estimator, self.param_maps, tagged, self.num_folds, self.label_col
            )
        if counts is not None:
            self.fold_metrics_ = [fold_row(pair_metrics(counts.get(t, {})), *t) for t in tasks]
        else:
            with ThreadPoolExecutor(max_workers=self.parallelism) as pool:
                self.fold_metrics_ = list(pool.map(run, tasks))

        self.avg_metrics_ = []
        for p_idx in range(len(self.param_maps)):
            vals = [
                fm[self.metric] for fm in self.fold_metrics_ if fm["param_index"] == p_idx
            ]
            self.avg_metrics_.append(sum(vals) / len(vals))
        self.best_index_ = max(range(len(self.avg_metrics_)), key=self.avg_metrics_.__getitem__)
        self.best_params_ = self.param_maps[self.best_index_]

        if self.predict_savepoint_path is not None:
            from functools import reduce

            folds = [
                scored_frames[(self.best_index_, f)] for f in range(self.num_folds)
            ]
            out = reduce(DataFrame.unionByName, folds)
            if self.predict_savepoint_cols:
                # tolerate estimators without a probability column (LinearSVC:
                # the reference calibrates inside CV, we calibrate after) —
                # keep whatever score columns the model does emit
                present = [c for c in self.predict_savepoint_cols if c in out.columns]
                if "probability" in self.predict_savepoint_cols and "probability" not in out.columns:
                    present += [c for c in ("rawPrediction",) if c in out.columns]
                out = out.select(*present)
            # reference deletes the dir then appends every fold
            # (CrossValidatorCustom.scala:285-299) — net effect is overwrite
            out.write.mode("overwrite").parquet(
                f"{self.predict_savepoint_path}/predictedData"
            )
