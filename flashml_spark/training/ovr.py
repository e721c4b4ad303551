"""One-vs-rest with per-class score retention.

The reference forks Spark's OVR to keep every class's rawPrediction /
probability in accumulator Map columns for Platt scaling and metrics
(``org/apache/spark/ml/classification/OneVsRestCustomModel.scala:144-237``).

Here the accumulator is an ``array<double>`` column (O(1) per class append,
no O(k) self-joins), built with ``vector_to_array`` — JVM-side, no UDFs.
Binary submodels fit concurrently via a driver thread pool issuing
independent Spark jobs (reference parallelism semantics,
``FlashMLConstants.scala:290``).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.ml import Transformer
from pyspark.ml.functions import vector_to_array
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import (
    DefaultParamsReader,
    MLReadable,
    MLReader,
    MLWritable,
    MLWriter,
)
from flashml_spark.mlio import write_metadata
from flashml_spark.training.estimators import strip_training_summary, with_params
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class OneVsRestWithScores:
    """Estimator-like: ``fit(df)`` → ``OneVsRestScoresModel``.

    Parameters
    ----------
    base_estimator_factory : Callable[[], Estimator]
        Builds a fresh binary estimator (featuresCol/labelCol preset to
        ``features`` / ``__ovr_label``).
    """

    def __init__(self, base_estimator_factory, label_col: str = "label",
                 features_col: str = "features", parallelism: int = 6):
        self.base_estimator_factory = base_estimator_factory
        self.label_col = label_col
        self.features_col = features_col
        self.parallelism = parallelism

    def with_params(
        self, params: dict, max_iter: int | None = None
    ) -> "OneVsRestWithScores":
        """A copy whose factory applies ``params`` (Spark param names) to
        each fresh binary estimator — the tuning hook that lets grid-CV /
        HyperBand treat the whole OVR ensemble as one tunable estimator
        (the reference tunes OVR-SVM this way:
        ``CrossValidatorCustom.scala:124-306`` over the per-class binary
        fits).  ``max_iter`` maps to the base estimator's ``maxIter``
        when it has one (HyperBand's rung budget)."""
        base = self.base_estimator_factory
        return OneVsRestWithScores(
            lambda: with_params(base(), params, max_iter),
            label_col=self.label_col,
            features_col=self.features_col,
            parallelism=self.parallelism,
        )

    def fit(self, df: DataFrame) -> "OneVsRestScoresModel":
        n_classes = df.agg(F.max(self.label_col)).first()[0]
        n_classes = int(n_classes) + 1
        cached = df.select(self.features_col, self.label_col).cache()
        cached.count()

        def fit_one(k: int):
            est = self.base_estimator_factory()
            est = est.setFeaturesCol(self.features_col).setLabelCol("__ovr_label")
            binary = cached.withColumn(
                "__ovr_label",
                F.when(F.col(self.label_col) == float(k), 1.0).otherwise(0.0),
            )
            m = est.fit(binary)
            strip_training_summary(m)
            return m

        with ThreadPoolExecutor(max_workers=self.parallelism) as pool:
            models = list(pool.map(fit_one, range(n_classes)))
        cached.unpersist()
        return OneVsRestScoresModel(models, self.features_col)


class _OneVsRestScoresModelWriter(MLWriter):
    """Directory contract (mirrors ``OneVsRestCustomModel.scala:144-237``):
    ``path/metadata`` (class, params, submodel classes) + one Spark-ML
    submodel dir per class at ``path/model_{k}``."""

    def __init__(self, instance: "OneVsRestScoresModel"):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path: str) -> None:
        inst = self.instance
        extra = {
            "numModels": len(inst.models),
            "modelClasses": [
                f"{type(m).__module__}.{type(m).__name__}" for m in inst.models
            ],
        }
        write_metadata(inst, path, self.sparkSession, extraMetadata=extra)
        for k, m in enumerate(inst.models):
            m.write().session(self.sparkSession).save(os.path.join(path, f"model_{k}"))


class _OneVsRestScoresModelReader(MLReader):
    def load(self, path: str) -> "OneVsRestScoresModel":
        metadata = DefaultParamsReader.loadMetadata(path, self.sparkSession)
        models = []
        for k, cls_name in enumerate(metadata["modelClasses"]):
            module, _, cls = cls_name.rpartition(".")
            sub_cls = getattr(__import__(module, fromlist=[cls]), cls)
            models.append(sub_cls.load(os.path.join(path, f"model_{k}")))
        instance = OneVsRestScoresModel(models)
        instance._resetUid(metadata["uid"])
        DefaultParamsReader.getAndSetParams(instance, metadata)
        return instance


class OneVsRestScoresModel(Transformer, MLReadable, MLWritable):
    """Applies every binary submodel, retaining per-class margins in
    ``class_scores`` (array<double>), argmax → ``prediction``.

    ``MLWritable`` like the reference's ``OneVsRestCustomModel``
    (``OneVsRestCustomModel.scala:144-237``), so the multi-intent SVM
    pipeline tail round-trips through ``PipelineModel.save``/``load``.
    """

    featuresCol = Param(
        Params._dummy(), "featuresCol", "features vector column",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self, models: list | None = None, features_col: str = "features"):
        super().__init__()
        self.models = models or []
        self._setDefault(featuresCol="features")
        self._set(featuresCol=features_col)

    @property
    def features_col(self) -> str:
        return self.getOrDefault(self.featuresCol)

    def write(self) -> MLWriter:
        return _OneVsRestScoresModelWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return _OneVsRestScoresModelReader()

    def _transform(self, df: DataFrame) -> DataFrame:
        out = df
        score_cols = []
        for k, model in enumerate(self.models):
            m = (
                model.copy()
                .setPredictionCol(f"__p{k}")
                .setRawPredictionCol(f"__r{k}")
            )
            if hasattr(m, "setProbabilityCol"):
                try:
                    m = m.setProbabilityCol(f"__pr{k}")
                except Exception:
                    pass
            out = m.transform(out)
            # margin for the positive class = rawPrediction[1]
            out = out.withColumn(
                f"__s{k}", vector_to_array(F.col(f"__r{k}")).getItem(1)
            )
            drop = [f"__p{k}", f"__r{k}"]
            if f"__pr{k}" in out.columns:
                drop.append(f"__pr{k}")
            out = out.drop(*drop)
            score_cols.append(f"__s{k}")

        scores = F.array(*[F.col(c) for c in score_cols])
        out = out.withColumn("class_scores", scores).drop(*score_cols)
        # argmax over the score array (first max wins — matches OVR tie rule)
        out = out.withColumn(
            "prediction",
            (F.array_position(F.col("class_scores"), F.array_max("class_scores")) - 1)
            .cast("double"),
        )
        return out
