"""Driver-side persistence of the Python ML stages (``flashml_spark.mlio``):
no Spark job per saved stage, the same metadata, the same loaders."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.ml import PipelineModel
from pyspark.ml.classification import LinearSVC, LogisticRegressionModel
from pyspark.ml.feature import HashingTF, Tokenizer
from pyspark.ml.functions import vector_to_array
from pyspark.ml.linalg import Vectors
from pyspark.ml.util import DefaultParamsWriter
from pyspark.sql import functions as F

from flashml_spark.experiment import Experiment, ExperimentConfig
from flashml_spark.features.generators import (
    CategoricalConcat,
    GramAssembler,
    SkipGramGenerator,
)
from flashml_spark.mlio import save_pipeline
from flashml_spark.operators.binning import BinningModel
from flashml_spark.preprocessing.transformers import (
    TOKEN_DELIMITER,
    CaseNormalizer,
    NullImputer,
    PorterStemmer,
    RegexRemover,
    RegexReplacer,
    SentenceMarker,
    StopwordRemover,
    WordSubstituter,
)
from flashml_spark.training.ovr import OneVsRestWithScores
from flashml_spark.training.platt import PlattScalarModel
from tests.conftest import jobs_started


def _metadata(path: str) -> dict:
    (part,) = (Path(path) / "metadata").glob("part-*")
    return json.loads(part.read_text())


def _text_frame(spark):
    d = TOKEN_DELIMITER
    rows = [
        (f"The Cats{d}can't{d}run 42!", ["a", "b", "c", "a"], "mobile", None),
        (f"a dog{d}is{d}RUNNING", ["x", "y", "z"], "desktop", 3.5),
        (f"the{d}end", ["q"], None, 7.0),
    ]
    return spark.createDataFrame(
        rows, "text string, toks array<string>, device string, dwell double"
    )


def _python_stages() -> list:
    """One of every flashml_spark ``ParamsWritable`` stage except the
    Platt calibrator, chained over :func:`_text_frame`."""
    return [
        NullImputer(inputCol="dwell", fillValue="0.0"),
        CaseNormalizer(inputCol="text", outputCol="t_case"),
        SentenceMarker(inputCol="t_case", outputCol="t_sent"),
        RegexReplacer(inputCol="t_sent", outputCol="t_re",
                      patterns=[r"\d+"], replacements=["_num_"]),
        RegexRemover(inputCol="t_re", outputCol="t_rm", patterns=["!"]),
        StopwordRemover(inputCol="t_rm", outputCol="t_sw", stopwords=["the", "is"]),
        WordSubstituter(inputCol="t_sw", outputCol="t_sub",
                        dictionary={"can't": "can not"}),
        PorterStemmer(inputCol="t_sub", outputCol="t_stem"),
        SkipGramGenerator(inputCol="toks", outputCol="skips", windowSize=3),
        GramAssembler(inputCols=["toks", "skips"], outputCol="grams"),
        CategoricalConcat(inputCols=["device"], outputCol="cats"),
        BinningModel(inputCol="dwell", outputCol="dwell_binned", splits=[2.0, 5.0]),
    ]


def test_python_pipeline_save_starts_no_spark_job(spark, tmp_path):
    model = PipelineModel(_python_stages())
    path = str(tmp_path / "py_pipeline")
    assert jobs_started(spark, lambda: save_pipeline(model, path)) == 0
    # the stock writer runs one job per metadata write, so the count can see one
    stock = str(tmp_path / "stock_stage")
    assert jobs_started(
        spark, lambda: DefaultParamsWriter(model.stages[0]).save(stock)
    ) == 1


def test_every_python_stage_roundtrips_through_pipeline_load(spark, tmp_path):
    df = _text_frame(spark)
    model = PipelineModel(_python_stages())
    path = str(tmp_path / "py_pipeline")
    save_pipeline(model, path)
    loaded = PipelineModel.load(path)
    assert [type(s) for s in loaded.stages] == [type(s) for s in model.stages]
    assert [s.uid for s in loaded.stages] == [s.uid for s in model.stages]
    for ours, back in zip(model.stages, loaded.stages):
        assert back.extractParamMap() == ours.extractParamMap()
    want = model.transform(df).orderBy("text").collect()
    assert loaded.transform(df).orderBy("text").collect() == want
    assert want[0]["t_stem"] != want[0]["text"]  # the chain really rewrote text


def test_ovr_and_platt_roundtrip_through_pipeline_load(spark, tmp_path):
    rows = [
        (Vectors.dense([float(c == 0) + 0.1 * i, float(c == 1), float(c == 2)]), float(c))
        for i in range(4) for c in range(3)
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    ovr = OneVsRestWithScores(classifier=LinearSVC(maxIter=5), parallelism=3).fit(df)
    platt = PlattScalarModel([(1.5, -0.5), (2.0, 0.1), (0.7, 0.0)])
    model = PipelineModel([ovr, platt])
    path = str(tmp_path / "ovr_pipeline")
    save_pipeline(model, path)
    meta = _metadata(f"{path}/stages/0_{ovr.uid}")
    assert meta["class"] == "org.apache.spark.ml.classification.OneVsRestModel"
    assert meta["numClasses"] == 3
    assert _metadata(f"{path}/stages/0_{ovr.uid}/model_0")["class"] == (
        "org.apache.spark.ml.classification.LinearSVCModel"
    )

    loaded = PipelineModel.load(path)
    cols = ["label", "rawPrediction", "probability", "prediction", "svm_prediction"]
    want = model.transform(df).select(cols).orderBy("label", "probability").collect()
    got = loaded.transform(df).select(cols).orderBy("label", "probability").collect()
    assert got == want


def test_metadata_matches_pyspark_except_timestamp(spark, tmp_path):
    stage = BinningModel(inputCol="dwell", outputCol="dwell_binned", splits=[1.0])
    model = PipelineModel([stage, CategoricalConcat(inputCols=["device"])])
    path = str(tmp_path / "pipeline")
    save_pipeline(model, path)

    def pyspark_json(instance, **kwargs):
        return json.loads(
            DefaultParamsWriter._get_metadata_to_save(instance, spark, **kwargs)
        )

    def drop_timestamp(meta: dict) -> dict:
        return {k: v for k, v in meta.items() if k != "timestamp"}

    pipeline_json = pyspark_json(
        model,
        paramMap={"stageUids": [s.uid for s in model.stages], "language": "Python"},
    )
    assert drop_timestamp(_metadata(path)) == drop_timestamp(pipeline_json)
    stage_path = f"{path}/stages/0_{stage.uid}"
    assert drop_timestamp(_metadata(stage_path)) == drop_timestamp(pyspark_json(stage))
    assert (Path(stage_path) / "metadata" / "_SUCCESS").read_bytes() == b""


def test_save_over_existing_path_needs_overwrite(spark, tmp_path):
    stage = BinningModel(inputCol="dwell", outputCol="dwell_binned", splits=[1.0])
    path = str(tmp_path / "stage")
    stage.write().save(path)
    with pytest.raises(Py4JJavaError, match="already exists"):
        stage.write().save(path)
    stage.write().overwrite().save(path)
    assert BinningModel.load(path).getOrDefault("splits") == [1.0]

    model = PipelineModel([stage])
    pipeline_path = str(tmp_path / "pipeline")
    save_pipeline(model, pipeline_path)
    save_pipeline(model, pipeline_path)  # replaces what is there
    assert PipelineModel.load(pipeline_path).stages[0].uid == stage.uid


def test_all_jvm_pipeline_keeps_the_jvm_writer(spark, tmp_path):
    df = spark.createDataFrame([("a b",), ("b c",)], ["text"])
    model = PipelineModel([
        Tokenizer(inputCol="text", outputCol="toks"),
        HashingTF(inputCol="toks", outputCol="tf", numFeatures=8),
    ])
    path = str(tmp_path / "jvm_pipeline")
    save_pipeline(model, path)
    # the JVM writer records no "language"; Scala's loader reads the result
    assert "language" not in _metadata(path)["paramMap"]
    jvm_model = spark._jvm.org.apache.spark.ml.PipelineModel.load(path)
    assert len(jvm_model.stages()) == 2
    loaded = PipelineModel.load(path)
    assert loaded.transform(df).collect() == model.transform(df).collect()


def test_paged_binned_run_saves_without_stock_metadata_writes(
    spark, tmp_path, monkeypatch
):
    """A hotlead-shaped run (3 pages, binning, categoricals, savepoints)
    writes no metadata through pyspark's Python-RDD writer, saves each
    fitted stage once, and every page pipeline ``load_models`` composes
    from the saved steps scores as the in-memory one does."""
    calls = []
    stock = DefaultParamsWriter.saveMetadata

    def counting(*args, **kwargs):
        calls.append(args[0])
        return stock(*args, **kwargs)

    monkeypatch.setattr(DefaultParamsWriter, "saveMetadata", staticmethod(counting))
    rows = [
        (f"{i:08x}", (i % 3) + 1, "buy now" if i % 2 == 0 else "just browsing",
         "mobile" if i % 4 < 2 else "desktop", float(i % 7), str(1 - i % 2))
        for i in range(240)
    ]
    df = spark.createDataFrame(
        rows, ["session_id", "page", "text", "device", "dwell", "response"]
    )
    root = str(tmp_path / "savepoints")
    cfg = ExperimentConfig(
        primary_keys=["session_id"], response="response", text_cols=["text"],
        categorical_cols=["device"], numerical_cols=["dwell"],
        binning=[{"variable": "dwell", "type": "equiarea_exact", "buckets": 3}],
        text_method="hashingtf", slots=32,
        algorithm="logistic_regression", algo_params={"maxIter": 5},
        page_col="page", num_pages=3, savepoint_root=root,
    )
    exp = Experiment(cfg)
    exp.run(spark, df)
    assert calls == []

    def uids(m):
        return [s.uid for s in m.stages]

    loaded = Experiment(cfg).load_models()
    for k, model in enumerate(exp.models_):
        # each step is saved once: the model pipeline holds only the
        # fitted model, the prep pipeline every stage before it
        tail = PipelineModel.load(f"{root}/pipeline/page{k}/model_pipeline")
        prep = PipelineModel.load(f"{root}/pipeline/page{k}/prep_pipeline")
        assert uids(tail) == uids(model)[-1:]
        assert isinstance(tail.stages[0], LogisticRegressionModel)
        assert not set(uids(tail)) & set(uids(prep))
        saved = loaded[k]
        assert uids(saved) == uids(model) == uids(prep) + uids(tail)
        for m in (model, saved):
            assert any(isinstance(s, BinningModel) for s in m.stages)

        def scores(m):
            return m.transform(df).select(
                "session_id", "prediction",
                vector_to_array(F.col("probability")).alias("p"),
            )

        want, got = scores(model), scores(saved)
        assert got.count() == want.count() == 240
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_no_stock_metadata_writer_outside_mlio():
    """Every Python stage and pipeline save goes through ``mlio``."""
    root = Path(__file__).resolve().parents[1] / "flashml_spark"
    banned = re.compile(
        r"DefaultParamsWritable|saveMetadata\(|\.write\(\)\.overwrite\(\)\.save\("
    )
    hits = [
        f"{p.relative_to(root)}:{i}: {line.strip()}"
        for p in sorted(root.rglob("*.py"))
        if p != root / "mlio.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
