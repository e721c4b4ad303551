"""One-vs-rest for multi-intent SVM, on pyspark's own ``OneVsRest``.

The reference forks Spark's one-vs-rest only to keep every class's margin
for Platt scaling (``OneVsRestCustomModel.scala:144-237``).  pyspark's
``OneVsRestModel`` already keeps them: ``rawPrediction[k]`` is class k's
binary ``rawPrediction[1]``, computed with JVM expressions, and argmax
over it is ``prediction``.  Its saved layout is Spark's, so Scala's
``OneVsRestModel.load`` reads it.

Keep the default ``rawPredictionCol``: a reloaded model with another one
fails to resolve ``rawPrediction`` in ``transform``.
"""

from __future__ import annotations

from pyspark.ml.classification import OneVsRest, OneVsRestModel

from flashml_spark.training.estimators import strip_training_summary, with_params


class OneVsRestWithScores(OneVsRest):
    """``OneVsRest`` that the tuners can treat as one estimator, and whose
    per-class models carry no training summary.  The per-class fits run
    one at a time, whatever ``parallelism`` says."""

    def with_params(
        self, params: dict, max_iter: int | None = None
    ) -> "OneVsRestWithScores":
        """A copy whose classifier has ``params`` (Spark param names) and
        ``maxIter`` (HyperBand's rung budget) set, so every per-class fit
        uses them (the reference tunes OVR-SVM over the per-class binary
        fits, ``CrossValidatorCustom.scala:124-306``)."""
        return self.copy().setClassifier(
            with_params(self.getClassifier(), params, max_iter)
        )

    def _fit(self, dataset) -> OneVsRestModel:
        # pyspark hands every per-class fit thread ONE shared
        # java.util.Properties, so concurrent fits race on the SQL execution
        # id kept in it; one thread fits the classes one after another
        model = OneVsRest._fit(self.copy({self.parallelism: 1}), dataset)
        for m in model.models:
            strip_training_summary(m)
        return model
