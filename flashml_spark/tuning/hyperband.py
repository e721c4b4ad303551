"""HyperBand — bandit-based successive halving over random configurations
(Li et al., "Hyperband: A Novel Bandit-Based Approach to Hyperparameter
Optimization", arXiv:1603.06560; reference port at
``org/apache/spark/ml/tuning/HyperBand.scala:99-420``).

Algorithm (defaults mirror ``HyperBand.scala:60-96``):
  * ``s_max = floor(log_eta(max_iter))`` brackets, s = s_max .. 0
  * bracket s starts with ``n = ((s_max+1) // (s+1)) * eta^s`` random
    configs at ``r = max_iter * eta^-s`` hyperband-iterations each.
    The reference computes ``ceil((B/maxIter/(s+1)).toInt * eta^s)``
    (``HyperBand.scala:215-218``) — all-integer division, so the
    truncation happens BEFORE the ``eta^s`` scale-up; at defaults
    (81, eta=3) the bracket widths are [81, 27, 9, 6, 5], not the
    Hyperband paper's ``ceil(B/R * eta^s/(s+1))`` = [81, 34, 15, 8, 5].
    We mirror the reference (observable behavior: configs trained).
  * each rung keeps the top ``n/eta`` configs by validation metric and
    multiplies iterations by eta
  * one Spark-estimator iteration budget = ``iteration_multiplier`` ×
    hyperband iterations (``maxIterationsFinalModel`` on the last refit)
  * winner refit on the full data

Deliberate deviation: the reference's ``findMaxIterations``
(``HyperBand.scala:240-248``) grants rung ``i == 0`` of EVERY bracket the
``maxIterationsFinalModel`` budget, which inverts successive halving's
cheap-first exploration (bracket s=4 would fit all 81 configs at 1000
iterations). Its own comment says the intent is "whether the current
successive halving loop is the last one"; we implement that intent —
``r_i * iteration_multiplier`` per rung, full budget only on the final
refit of the overall winner.

Candidate fits are independent Spark jobs driven from a thread pool.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from flashml_spark.metrics.multiclass import multiclass_metrics
from flashml_spark.operators.sampling import stratified_split
from flashml_spark.training.estimators import fit
from flashml_spark.tuning.cv import FOLD_METRICS
from flashml_spark.tuning.generators import ParamSpace, random_param_sets


class HyperBand:
    def __init__(
        self,
        estimator,
        param_space: ParamSpace,
        label_col: str = "label",
        metric: str = "weightedPrecision",
        max_hyperband_iter: int = 81,
        eta: int = 3,
        iteration_multiplier: int = 20,
        train_size: float = 0.8,
        max_iterations_final_model: int = 1000,
        stratified: bool = False,
        seed: int = 999,
        parallelism: int = 3,
    ):
        self.estimator = estimator
        self.param_space = param_space
        self.label_col = label_col
        self.metric = metric
        self.max_iter = max_hyperband_iter
        self.eta = eta
        self.iteration_multiplier = iteration_multiplier
        self.train_size = train_size
        self.max_iterations_final_model = max_iterations_final_model
        self.stratified = stratified
        self.seed = seed
        self.parallelism = parallelism
        self.history_: list[dict] = []
        self.best_params_: dict | None = None

    def schedule(self) -> list[dict]:
        """The bracket/rung budget table this instance will execute, without
        fitting anything: one row per rung with bracket ``s``, configs ``n_i``,
        hyperband-iterations ``r_i``, and the Spark ``maxIter`` actually set.
        Mirrors the reference's loop arithmetic (``HyperBand.scala:200-235``)
        so parity is testable against hand-derived values."""
        s_max = int(math.floor(math.log(self.max_iter, self.eta)))
        rows = []
        for s in range(s_max, -1, -1):
            n = ((s_max + 1) // (s + 1)) * (self.eta ** s)
            r = self.max_iter * (self.eta ** -s)
            for rung in range(s + 1):
                n_i = int(math.floor(n * (self.eta ** -rung)))
                r_i = r * (self.eta ** rung)
                rows.append(
                    dict(
                        bracket=s,
                        rung=rung,
                        n_configs=n_i,
                        r_i=r_i,
                        spark_iters=max(1, int(r_i * self.iteration_multiplier)),
                    )
                )
        return rows

    def fit(self, df: DataFrame):
        if self.stratified:
            train, val = stratified_split(df, self.label_col, self.train_size, self.seed)
        else:
            train, val = df.randomSplit(
                [self.train_size, 1.0 - self.train_size], seed=self.seed
            )
        train = train.cache()
        val = val.cache()
        try:
            train.count(), val.count()
            self._run_brackets(train, val)
        finally:
            train.unpersist()
            val.unpersist()
        return fit(self.estimator, df, self.best_params_, self.max_iterations_final_model)

    def _run_brackets(self, train: DataFrame, val: DataFrame) -> None:
        """Successive halving in every bracket; fills ``history_`` and
        ``best_params_``.  Candidates are scored like CV's folds."""
        metric_key = FOLD_METRICS[self.metric]
        s_max = int(math.floor(math.log(self.max_iter, self.eta)))
        best_score, best_params = -float("inf"), None

        for s in range(s_max, -1, -1):
            # reference integer-division bracket width (HyperBand.scala:215-218)
            n = ((s_max + 1) // (s + 1)) * (self.eta ** s)
            r = self.max_iter * (self.eta ** -s)
            configs = random_param_sets(self.param_space, n, seed=self.seed + s)

            for rung in range(s + 1):
                n_i = int(math.floor(n * (self.eta ** -rung)))
                r_i = r * (self.eta ** rung)
                spark_iters = max(1, int(r_i * self.iteration_multiplier))

                def evaluate(params):
                    model = fit(self.estimator, train, params, spark_iters)
                    scored = model.transform(val)
                    return multiclass_metrics(scored, self.label_col, "prediction")[metric_key]

                with ThreadPoolExecutor(max_workers=self.parallelism) as pool:
                    scores = list(pool.map(evaluate, configs))

                for p, sc in zip(configs, scores):
                    self.history_.append(
                        dict(bracket=s, rung=rung, iters=spark_iters, params=p, score=sc)
                    )
                    if sc > best_score:
                        best_score, best_params = sc, p

                keep = max(1, int(n_i / self.eta))
                ranked = sorted(zip(scores, range(len(configs))), reverse=True)
                configs = [configs[i] for _, i in ranked[:keep]]

        self.best_params_ = best_params
