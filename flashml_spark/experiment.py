"""Config-driven experiment orchestration — the engine's equivalent of the
reference's 11-step pipeline (``core/PipelineSteps.scala:35-296``):

    dataReader → sampling → preprocessing → featureGeneration →
    vectorization → modelling → scoring → standardmetrics → custommetrics
    (→ publish: each page saves one PipelineModel per step, its feature
    stages in ``prep_pipeline`` and its model (plus Platt) in
    ``model_pipeline``; ``load_models`` composes the two)

Programmatic API first (SURVEY §7): ``Experiment(config).run(spark)``; a
JSON config is just a serialization of ``ExperimentConfig``.

Page-level semantics (``PipelineSteps.scala:308-327``): when ``page_col``
and ``num_pages`` are set, one model per page is fitted (page k rows for
k < N, page >= N folded into the last model); all fitted artifacts save
under the reference's directory contract via SavepointManager.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import OneVsRestModel
from pyspark.ml.feature import RegexTokenizer
from pyspark.ml.functions import vector_to_array
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flashml_spark.metrics.binary import auroc, best_fbeta_threshold
from flashml_spark.metrics.multiclass import multiclass_metrics
from flashml_spark.mlio import save_pipeline
from flashml_spark.operators import relational, sampling
from flashml_spark.operators.binning import binning_output_name, binning_specs_for_page
from flashml_spark.training.estimators import (
    build_estimator,
    build_label_indexer,
    build_param_grid,
    fit,
)
from flashml_spark.training.platt import PlattScalar, PlattScalarModel
from flashml_spark.training.postprocess import (
    index_to_string,
    top_k_intents,
    uplift_transform,
)
from flashml_spark.vectorization import build_assembler, build_text_vectorizer


@dataclass
class ExperimentConfig:
    """Column roles are DECLARED, not inferred (reference ``config.json``
    semantics, ``util/ConfigValues.scala:40-101``)."""

    # column roles
    primary_keys: list[str] = field(default_factory=list)
    response: str = "label"
    text_cols: list[str] = field(default_factory=list)
    categorical_cols: list[str] = field(default_factory=list)
    numerical_cols: list[str] = field(default_factory=list)
    page_col: str | None = None
    num_pages: int = 1
    # dataReader
    input_filter: str | None = None
    random_id_col: str | None = None  # derive random_variable from this id
    # an EXISTING random/split column declared as a role (reference
    # ``randomVariable``, config.json / ConfigValues.scala:545-606): kept
    # through pruning for conditional splits, never vectorized
    random_col: str | None = None
    # sampling
    split: str = "random"  # random | stratified | conditional
    train_fraction: float = 0.8
    conditions: list[str] = field(default_factory=list)
    seed: int = 20
    # feature generation: binning specs — flat list (noPage/allPage: same
    # specs every page) or list-of-lists (perPage).  Each spec:
    # {"variable": <numerical col>, "type": equidistant|equiarea|
    #  equiarea_exact|intervals, "buckets": N | "splits": [..]}.
    # The binned output is page-qualified (<var>_page<k>_binned) and the
    # variable moves numerical -> categorical for vectorization
    # (ConfigValues.scala:104-119,380-430).
    binning: list = field(default_factory=list)
    # config-driven per-variable preprocessing chains (reference
    # ``experiment.preprocessing.steps``, PreprocessingEngine.scala:
    # each step is {"inputVariable": ..., "outputVariable": ...,
    # "transformations": [{"type": ..., "parameter": ...}, ...]}).
    # A text_cols entry naming a step's outputVariable gets that chain
    # applied before vectorization; a chain ending in ``tokenizer``
    # feeds its token array to the vectorizer directly.
    preprocessing_steps: list = field(default_factory=list)
    # vectorization
    text_method: str = "tfidf"
    slots: int = 1000
    # modelling
    algorithm: str = "logistic_regression"
    algo_params: dict = field(default_factory=dict)
    multi_intent: bool = False
    # tuning (reference: plain | grid-CV | HyperBand)
    tuning: str = "none"  # none | cv | hyperband
    param_grid: dict = field(default_factory=dict)  # param -> list of values (cv)
    param_ranges: dict = field(default_factory=dict)  # param -> (lo, hi) | iterable (hyperband)
    cv_folds: int = 3
    cv_metric: str = "weightedPrecision"
    # experiment.cv.predictSavepoint (FlashMLConstants.scala:215): persist the
    # best param map's per-fold validation predictions for threshold tuning
    cv_predict_savepoint: bool = False
    parallelism: int = 3  # FlashMLConstants.scala:290
    # HyperBand budget (reference defaults, HyperBand.scala:60-96)
    hyperband_max_iter: int = 81
    hyperband_eta: int = 3
    hyperband_iteration_multiplier: int = 20
    hyperband_final_max_iter: int = 1000
    # post-processors (ModelTrainingEngine pipeline tail)
    platt: bool | None = None  # None -> auto (True for svm)
    top_k: int | None = None
    uplift_treatment: str | None = None  # numerical col, forced LAST feature slot
    # scoring
    post_predict_filter: str | None = None
    # custom metrics — the reference's journey-level hotlead rollup step
    # (``experiment.customMetrics``, WebCustomMetricsEvaluator.scala:
    # 126-189).  Keys: ``type`` ("prob_only" ignores the top signal),
    # ``probThresholds`` (per-page list; default = each page's best-F2
    # threshold from the standard-metrics sweep, the reference's
    # source), ``topVariable`` + ``topThresholds`` (two-signal rule).
    custom_metrics: dict = field(default_factory=dict)
    # savepoints
    savepoint_root: str | None = None


class Experiment:
    def __init__(self, config: ExperimentConfig):
        self.config = config
        self.models_: list[PipelineModel] = []
        self.metrics_: dict = {}
        self.page_metrics_: list[dict] = []
        self.tuning_: list[dict | None] = []

    # ---- dataReader ------------------------------------------------------
    def read(self, df: DataFrame, require_response: bool = True) -> DataFrame:
        c = self.config
        if require_response or c.response in df.columns:
            out = relational.input_filter(df, c.input_filter, response_col=c.response)
        else:  # predict-only input carries no labels
            out = relational.input_filter(df, c.input_filter)
        if c.random_id_col:
            out = relational.derive_random_variable(out, c.random_id_col)
        # preprocessing chains read their inputVariable from the source
        # frame; a text_cols entry naming the chain's OUTPUT must not let
        # pruning drop the input (the output doesn't exist yet at read time)
        prep_inputs = [
            s["inputVariable"] for s in c.preprocessing_steps
        ]
        prep_outputs = {
            s.get("outputVariable", f"{s['inputVariable']}__prep")
            for s in c.preprocessing_steps
        }
        keep = list(
            dict.fromkeys(
                c.primary_keys
                + [c.response]
                + [t for t in c.text_cols if t not in prep_outputs]
                + prep_inputs
                + c.categorical_cols
                + c.numerical_cols
                + ([c.page_col] if c.page_col else [])
                + ([c.uplift_treatment] if c.uplift_treatment else [])
                + (["random_variable"] if c.random_id_col else [])
                + ([c.random_col] if c.random_col else [])
            )
        )
        if not require_response:
            keep = [col for col in keep if col in out.columns]
        return relational.prune_columns(out, keep)

    # ---- sampling --------------------------------------------------------
    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        c = self.config
        if c.split == "stratified":
            return sampling.stratified_split(df, c.response, c.train_fraction, c.seed)
        if c.split == "stratified_approx":
            return sampling.stratified_split_approx(df, c.response, c.train_fraction, c.seed)
        if c.split == "conditional":
            parts = sampling.conditional_split(df, c.conditions)
            if len(parts) != 2:
                raise ValueError("conditional split needs exactly 2 conditions")
            return parts[0], parts[1]
        train, test = sampling.random_split(
            df, [c.train_fraction, 1.0 - c.train_fraction], c.seed
        )
        return train, test

    # ---- per-page feature pipeline (everything before the estimator) ----
    def _build_prep_stages(self, page: int = 0) -> list:
        c = self.config
        stages = []
        feature_vec_cols = []
        # feature generation: binning first — binned variables leave the
        # numerical list and their page-qualified outputs join the
        # categorical list (ConfigValues.scala:104-119,380-430)
        from flashml_spark.operators.binning import (
            BinningEstimator,
            resolve_binned_roles,
        )

        bin_specs = binning_specs_for_page(c.binning, page)
        numerical_cols, categorical_cols, renames = resolve_binned_roles(
            c.numerical_cols, c.categorical_cols, bin_specs, page + 1
        )
        for spec, (_, out_name) in zip(bin_specs, renames):
            stages.append(
                BinningEstimator(
                    inputCol=spec["variable"],
                    outputCol=out_name,
                    method=spec.get("type", "equidistant"),
                    numBuckets=int(spec.get("buckets", 10)),
                    splits=[float(s) for s in spec["splits"]] if "splits" in spec else None,
                )
            )
        # config-driven preprocessing chains: a text_cols entry naming a
        # step's outputVariable gets that chain instead of the default
        # whitespace tokenizer (reference PreprocessingStageLoader flow)
        from flashml_spark.preprocessing.transformers import (
            build_preprocessing_chain,
        )

        prep_chains = {}  # outputVariable -> (stages, final_col, tokenized)
        for step in c.preprocessing_steps:
            out_name = step.get(
                "outputVariable", f"{step['inputVariable']}__prep"
            )
            prep_chains[out_name] = build_preprocessing_chain(step)

        # chains whose output is NOT a text variable still run — the
        # reference's numeric/categorical imputer steps (e.g. the
        # ``multiIntent_lr_withImputer_test_config.json`` step imputing
        # ``age`` with "0"): a nullcheck-only chain keeps the column
        # name, so the imputed value flows into the assembler
        for out_name, (chain_stages, _, _) in prep_chains.items():
            if out_name not in c.text_cols:
                stages.extend(chain_stages)

        for col in c.text_cols:
            toks, tokenized = col, False
            if col in prep_chains:
                chain_stages, toks, tokenized = prep_chains[col]
                stages.extend(chain_stages)
            if not tokenized:
                stages.append(
                    RegexTokenizer(
                        inputCol=toks, outputCol=f"{col}__toks",
                        pattern=r"\s+", toLowercase=True,
                    )
                )
                toks = f"{col}__toks"
            vec = f"{col}__vec"
            stages.extend(build_text_vectorizer(c.text_method, toks, vec, c.slots))
            feature_vec_cols.append(vec)
        if categorical_cols:
            from flashml_spark.features import CategoricalConcat

            stages.append(
                CategoricalConcat(inputCols=categorical_cols, outputCol="categorical_array")
            )
            stages.extend(
                build_text_vectorizer("count_vectorizer", "categorical_array", "cat__vec", c.slots)
            )
            feature_vec_cols.append("cat__vec")
        numerical = [n for n in numerical_cols if n != c.uplift_treatment]
        stages.append(
            build_assembler(
                feature_vec_cols,
                numerical_cols=numerical,
                treatment_col=c.uplift_treatment,  # must stay the LAST slot
            )
        )
        stages.append(build_label_indexer(c.response, c.multi_intent))
        return stages

    # ---- modelling: plain fit, OVR, grid-CV, or HyperBand ----------------
    def _fit_model(self, train_vec: DataFrame, label_col: str, page: int = 0):
        c = self.config
        est = build_estimator(
            c.algorithm, label_col=label_col, params=c.algo_params, train_df=train_vec,
        )
        if c.multi_intent and c.algorithm == "svm":
            # LinearSVC is binary-only: multi-intent SVM goes through OVR,
            # whose rawPrediction keeps every class's margin (feeds
            # multiclass Platt).  The ensemble flows into the SAME tuning
            # branches below — grid-CV / HyperBand tune its classifier via
            # with_params (the reference's multiIntent_svm_cv / _hyperband
            # scenarios, CrossValidatorCustom.scala:124-306); a user's
            # tuning block is never silently ignored.
            from flashml_spark.training.ovr import OneVsRestWithScores

            est = OneVsRestWithScores(classifier=est, labelCol=label_col)
        if c.tuning == "cv":
            from flashml_spark.tuning.cv import CrossValidatorWithFoldMetrics

            grid = build_param_grid(est, c.param_grid)
            savepoint_path = cols = None
            if c.cv_predict_savepoint:
                if not c.savepoint_root:
                    raise ValueError("cv_predict_savepoint needs savepoint_root")
                # per-page dir (the reference's single basePath/cvData would let
                # a later page's delete+append clobber an earlier page's folds)
                savepoint_path = f"{c.savepoint_root}/cvData/page{page}"
                # colsToSave contract: primary keys + prediction + probability
                # (CrossValidatorCustom.scala:147-150)
                cols = [*c.primary_keys, "prediction", "probability"]
            cv = CrossValidatorWithFoldMetrics(
                est,
                grid,
                label_col=label_col,
                metric=c.cv_metric,
                num_folds=c.cv_folds,
                parallelism=c.parallelism,
                predict_savepoint_path=savepoint_path,
                predict_savepoint_cols=cols,
            )
            model = cv.fit(train_vec)
            return model, {
                "foldMetrics": cv.fold_metrics_,
                "avgMetrics": cv.avg_metrics_,
                "bestParams": cv.best_params_,
            }
        if c.tuning == "hyperband":
            from flashml_spark.tuning.generators import ParamSpace
            from flashml_spark.tuning.hyperband import HyperBand

            space = ParamSpace()
            for name, spec in c.param_ranges.items():
                if isinstance(spec, tuple) and len(spec) == 2:
                    space.add_range(name, *spec)
                else:
                    space.add_choices(name, list(spec))
            hb = HyperBand(
                est,
                space,
                label_col=label_col,
                metric=c.cv_metric,
                max_hyperband_iter=c.hyperband_max_iter,
                eta=c.hyperband_eta,
                iteration_multiplier=c.hyperband_iteration_multiplier,
                max_iterations_final_model=c.hyperband_final_max_iter,
                parallelism=c.parallelism,
            )
            model = hb.fit(train_vec)
            return model, {"history": hb.history_, "bestParams": hb.best_params_}
        if c.tuning != "none":
            raise ValueError(f"unknown tuning mode {c.tuning!r}")
        return fit(est, train_vec), None

    @staticmethod
    def _indexer_labels(pipeline: PipelineModel) -> list[str] | None:
        """Response labels from the fitted StringIndexer stage of a page
        pipeline — the last prep stage, so the scan runs in reverse, past
        the model tail."""
        for stage in reversed(pipeline.stages):
            if hasattr(stage, "labelsArray"):
                return list(stage.labelsArray[0])
            if hasattr(stage, "labels"):
                return list(stage.labels)
        return None

    @property
    def _n_pages(self) -> int:
        c = self.config
        return c.num_pages if (c.page_col and c.num_pages > 1) else 1

    def _map_pages(self, fn, items) -> list:
        """``[fn(x) for x in items]``, in order.  Several items run from a
        driver thread pool of ``min(len(items), parallelism)`` threads, so
        independent per-page jobs overlap: later pages' jobs back-fill the
        cores an earlier page's straggling stages leave idle.  The pool
        changes when jobs run, not what they compute."""
        items = list(items)
        if len(items) <= 1:
            return [fn(x) for x in items]
        workers = min(len(items), self.config.parallelism)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            return list(pool.map(fn, items))

    def _finish_page(
        self, scored: DataFrame, pipeline: PipelineModel, k: int
    ) -> DataFrame:
        """The scoring tail after the model (and Platt calibrator) of page
        ``k``: [Uplift] → [TopK] → [IndexToString] → post-predict filter →
        drop the page's binned columns.  ``pipeline`` is the page's full
        fitted pipeline; ``run`` and ``predict`` both end each page here,
        so predict-only scoring reproduces the training run's."""
        c = self.config
        labels = self._indexer_labels(pipeline)
        if c.uplift_treatment:
            # the bare classifier stage: last stage, or the one before the
            # Platt calibrator when the tail is calibrated (the calibrator
            # is then ALSO the margin->probability map the counterfactual
            # scorings need)
            model, calibrator = pipeline.stages[-2:]
            if not isinstance(calibrator, PlattScalarModel):
                model, calibrator = calibrator, None
            scored = uplift_transform(scored, model, calibrator=calibrator)
        if c.top_k and labels:
            scored = top_k_intents(scored, labels, k=c.top_k)
        if labels:
            scored = index_to_string(scored, labels)
        scored = relational.post_predict_filter(scored, c.post_predict_filter)
        # binned columns are page-qualified intermediates
        # (<var>_page<k>_binned): drop them before the cross-page union,
        # which unions by name
        return scored.drop(
            *[
                binning_output_name(spec["variable"], k + 1)
                for spec in binning_specs_for_page(c.binning, k)
            ]
        )

    # ---- lifecycle -------------------------------------------------------
    _RESUME_STEPS = ("sampling", "vectorization", "modelling")

    def run(self, spark: SparkSession, df: DataFrame | None = None,
            resume_from: str | None = None) -> dict:
        """dataReader → sampling → (page fan-out) → feature fit →
        modelling (+tuning) → [Platt] → [Uplift] → [TopK] →
        [IndexToString] → scoring filter → metrics → savepoints — the
        reference's step order (``ModelTrainingEngine.scala:35-276``).

        ``resume_from`` restarts mid-pipeline from the savepoints a
        previous run wrote (``PipelineSteps.scala:73-78,112-134,207-243``;
        ``SavePointManager.loadData:89-135``):

          * ``"sampling"``      — load the dataReader output, re-split
          * ``"vectorization"`` — load the train/test split, refit features
          * ``"modelling"``     — load per-page vectorized frames + fitted
            prep pipelines; only the estimator tail refits

        Steps before the resume point are never re-executed; with fixed
        seeds the resumed run's scored output is byte-identical to the
        original's.
        """
        c = self.config
        label_col = f"{c.response}_indexed"
        use_platt = c.platt if c.platt is not None else (c.algorithm == "svm")
        sp = None
        if c.savepoint_root:
            from flashml_spark.sources.savepoint import SavepointManager

            sp = SavepointManager(spark, c.savepoint_root)
        if resume_from is not None:
            if resume_from not in self._RESUME_STEPS:
                raise ValueError(
                    f"resume_from must be one of {self._RESUME_STEPS}, got {resume_from!r}"
                )
            if sp is None:
                raise ValueError("resume_from needs savepoint_root")
        elif df is None:
            raise ValueError("a fresh run needs an input DataFrame")

        data = train = test = None
        if resume_from is None:
            data = self.read(df)
            if sp:
                # every savepoint is a materialization barrier
                # (SavepointManager.barrier), so a resumed run replays this
                # run's frames byte for byte
                data = sp.barrier(data, "dataReader", "full")
            data = data.persist()
        elif resume_from == "sampling":
            data = sp.load("dataReader", "full").persist()

        if resume_from in (None, "sampling"):
            train, test = self.split(data)
            if sp:
                train = sp.barrier(train, "sampling", "train")
                test = sp.barrier(test, "sampling", "test")
        elif resume_from == "vectorization":
            train, test = sp.load("sampling", "train"), sp.load("sampling", "test")

        n_pages = self._n_pages
        if resume_from == "modelling":
            train_pages = test_pages = [None] * n_pages
        elif n_pages > 1:
            train_pages = relational.split_page_level(train, c.page_col, c.num_pages)
            test_pages = relational.split_page_level(test, c.page_col, c.num_pages)
        else:
            train_pages, test_pages = [train], [test]

        self.models_ = []
        self.tuning_ = []

        def _run_page(k, tr, te):
            pipeline_dir = f"{c.savepoint_root}/pipeline/page{k}"
            if resume_from == "modelling":
                prep = PipelineModel.load(f"{pipeline_dir}/prep_pipeline")
                tr_v = sp.load("vectorization", "train", page=k).persist()
                te = sp.load("vectorization", "test", page=k)
            else:
                prep = Pipeline(stages=self._build_prep_stages(page=k)).fit(tr)
                tr_v = prep.transform(tr)
                te = prep.transform(te)
                if sp:
                    # vector columns (VectorUDT) persist fine in parquet —
                    # these savepoints are exactly what resume_from=
                    # "modelling" reloads, and the model fits from the
                    # reloaded frame, as a resumed run's refit does
                    tr_v = sp.barrier(tr_v, "vectorization", "train", page=k)
                    te = sp.barrier(te, "vectorization", "test", page=k)
                    save_pipeline(prep, f"{pipeline_dir}/prep_pipeline")
                tr_v = tr_v.persist()
            model, tuning_info = self._fit_model(tr_v, label_col, page=k)
            scored = model.transform(te)  # te: already vectorized
            tail_stages = [model]
            if use_platt:
                # an OVR model's rawPrediction holds one margin per class
                calibrator = PlattScalar(
                    label_col=label_col, per_class=isinstance(model, OneVsRestModel)
                ).fit(model.transform(tr_v))
                scored = calibrator.transform(scored)
                # the calibrator is part of the persisted pipeline so that
                # predict-only resume reproduces calibrated probabilities
                # (reference: OneVsRestCustomModel + PlattScalar are both
                # MLWritable pipeline stages, loaded by
                # ModelTrainingEngine.loadPipelineArray:109-118)
                tail_stages.append(calibrator)
            tr_v.unpersist()
            tail = PipelineModel(tail_stages)
            full_model = PipelineModel(prep.stages + tail.stages)
            scored = self._finish_page(scored, full_model, k)
            if sp:
                sp.save(
                    scored.drop(*[col for col, t in scored.dtypes if t == "vector"]),
                    "scoring", "test", page=k,
                )
                # one PipelineModel per step (DirectoryCreator.scala:39-149):
                # the prep stages are saved once, in prep_pipeline
                save_pipeline(tail, f"{pipeline_dir}/model_pipeline")
            return scored, full_model, tuning_info

        # independent page models fit concurrently; page order is kept
        results = self._map_pages(
            lambda k: _run_page(k, train_pages[k], test_pages[k]), range(n_pages)
        )
        scored_pages = [r[0] for r in results]
        self.models_ = [r[1] for r in results]
        self.tuning_ = [r[2] for r in results]

        scored_all = relational.union_pages(scored_pages)
        self.page_metrics_ = (
            [
                multiclass_metrics(page_scored, label_col, "prediction")
                for page_scored in scored_pages
            ]
            if len(scored_pages) > 1
            else []
        )
        self.metrics_ = multiclass_metrics(scored_all, label_col, "prediction")
        if not c.multi_intent and "probability" in scored_all.columns:
            positive = _positive_probability(scored_all)
            binary = scored_all.select(
                positive.alias("positive_probability"),
                F.col(label_col).alias("label"),
            )
            self.metrics_["auroc"] = auroc(binary)
            self.metrics_["bestF2"] = best_fbeta_threshold(binary)
            if c.custom_metrics and c.primary_keys:
                self.metrics_["customMetrics"] = self._custom_metrics_rows(
                    scored_all, label_col, positive
                )
        if c.savepoint_root:
            from flashml_spark.metrics.report import MetricsAccumulator

            acc = MetricsAccumulator()
            acc.add(
                "test",
                {
                    k: v
                    for k, v in self.metrics_.items()
                    if k not in ("perClass", "customMetrics")
                },
            )
            for k, pm in enumerate(self.page_metrics_):
                acc.add(f"test.page{k}", {x: v for x, v in pm.items() if x != "perClass"})
            for row in self.metrics_.get("customMetrics", []):
                acc.add(f"test.customMetrics.page{row['pageNo']}", row)
            acc.write(f"{c.savepoint_root}/metrics")
        if data is not None:
            data.unpersist()
        return self.metrics_

    def _custom_metrics_rows(
        self, scored_all: DataFrame, label_col: str, positive: Column
    ) -> list:
        """The reference's custom-metrics step — journey-level hotlead
        rollup (``WebCustomMetricsEvaluator.scala:126-189``,
        ``totalVisitorsCount_test_config.json``): per page, the hotlead
        visitor count, global distinct-visitor and positive-visitor
        totals, hotleadRate and captureRate, with per-page probability
        thresholds taken from the config or (the reference's source)
        each page's best-F2 sweep.  One row per page, reference column
        names.  The rollup is two groupBys over the scored frame —
        never the reference's per-visitor ``collect()``."""
        from flashml_spark.metrics.hotlead import hotlead_simulation

        c = self.config
        cm = c.custom_metrics
        n_pages = self._n_pages
        page_col = c.page_col or "__cm_page"
        if not c.page_col:
            scored_all = scored_all.withColumn(page_col, F.lit(1))

        given = cm.get("probThresholds")

        def _page_best_f2(k: int) -> dict:
            page_rows = (
                scored_all.filter(
                    F.least(F.col(page_col).cast("int"), F.lit(n_pages)) == k + 1
                )
                if n_pages > 1
                else scored_all
            )
            return best_fbeta_threshold(
                page_rows.select(
                    positive.alias("positive_probability"),
                    F.col(label_col).alias("label"),
                )
            )

        # per-page threshold sweeps are independent read-only actions over
        # the same scored frame
        best_f2 = self._map_pages(_page_best_f2, range(n_pages))
        thresholds = [
            float(given[k]) if given else float(best_f2[k]["threshold"])
            for k in range(n_pages)
        ]

        prob_only = str(cm.get("type", "prob_only")).lower() == "prob_only"
        top_var = None if prob_only else cm.get("topVariable")
        top_list = cm.get("topThresholds") if top_var else None
        sim = hotlead_simulation(
            scored_all,
            c.primary_keys,
            page_col,
            positive,
            c.response,
            thresholds,
            num_pages=n_pages,
            top_thresholds=top_list,
            top_col=F.col(top_var) if top_var else None,
        )
        per_page = {r["hotleadPage"]: r for r in sim["perPage"].collect()}
        rows = []
        for k in range(n_pages):
            r = per_page.get(k + 1)
            hot = int(r["hotleads"]) if r else 0
            cap = int(r["captured"]) if r else 0
            rows.append(
                {
                    "pageNo": k + 1,
                    "accuracy": best_f2[k]["accuracy"],
                    "bestF2": best_f2[k]["fbeta"],
                    "probThreshold": thresholds[k],
                    "topThreshold": float(top_list[k]) if top_list else 0.0,
                    "hotLead": hot,
                    "totalVisitor": sim["visitors"],
                    "hotleadRate": hot / sim["visitors"] if sim["visitors"] else 0.0,
                    "capturedPositiveClass": cap,
                    "totalPositiveClass": sim["positiveVisitors"],
                    "captureRate": (
                        cap / sim["positiveVisitors"]
                        if sim["positiveVisitors"]
                        else 0.0
                    ),
                }
            )
        return rows

    # ---- predict-only resume (SURVEY §3.2) -------------------------------
    def load_models(self, root: str | None = None) -> list[PipelineModel]:
        """Load the per-page fitted pipelines saved by ``run``, each composed
        from its ``prep_pipeline`` and ``model_pipeline`` — the savepoint
        contract that makes ``experiment.type=predict`` runs possible
        without refitting (``PipelineSteps.scala:73-78``;
        ``DirectoryCreator.scala:102-109``)."""
        c = self.config
        root = root or c.savepoint_root
        if root is None:
            raise ValueError("predict-only runs need savepoint_root")
        self.models_ = []
        for k in range(self._n_pages):
            prep, tail = (
                PipelineModel.load(f"{root}/pipeline/page{k}/{step}")
                for step in ("prep_pipeline", "model_pipeline")
            )
            self.models_.append(PipelineModel(prep.stages + tail.stages))
        return self.models_

    def predict(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """Score new data with persisted models: read (labels optional) →
        page fan-out → per-page transform (the loaded pipeline includes the
        model tail and any Platt calibrator) → the SAME scoring tail as
        ``run`` (``_finish_page``) → page union — so predict-only resume
        reproduces training-run scoring exactly
        (``PipelineSteps.scala:73-78``)."""
        c = self.config
        if not self.models_:
            self.load_models()
        data = self.read(df, require_response=False)
        if self._n_pages > 1:
            pages = relational.split_page_level(data, c.page_col, c.num_pages)
        else:
            pages = [data]
        return relational.union_pages(
            [
                self._finish_page(m.transform(p), m, k)
                for k, (m, p) in enumerate(zip(self.models_, pages))
            ]
        )


def _positive_probability(scored: DataFrame) -> Column:
    """P(class 1) from the ``probability`` column: a vector from Spark
    models, an array<double> from Platt / uplift."""
    if dict(scored.dtypes)["probability"] == "vector":
        return vector_to_array("probability").getItem(1)
    return F.element_at(F.col("probability"), 2)
