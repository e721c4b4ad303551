"""Experiment orchestration + Structured Streaming tests."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from flashml_spark.experiment import Experiment, ExperimentConfig


def _journey_df(spark, n=300):
    """Synthetic web-journey data: text + categorical + numerical + pages."""
    rows = []
    for i in range(n):
        page = (i % 3) + 1
        good = i % 2 == 0
        text = "buy now great deal" if good else "just browsing around here"
        rows.append(
            (
                f"{i:08x}",          # hex session id
                page,
                text,
                "mobile" if i % 4 < 2 else "desktop",
                float(i % 7),
                "1" if good else "0",
            )
        )
    return spark.createDataFrame(
        rows, ["session_id", "page", "text", "device", "dwell", "response"]
    )


def test_experiment_end_to_end_binary(spark):
    df = _journey_df(spark)
    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="response",
        text_cols=["text"],
        categorical_cols=["device"],
        numerical_cols=["dwell"],
        random_id_col="session_id",
        text_method="tfidf",
        slots=100,
        algorithm="logistic_regression",
        train_fraction=0.7,
    )
    exp = Experiment(cfg)
    metrics = exp.run(spark, df)
    assert metrics["accuracy"] > 0.95
    assert metrics["auroc"] > 0.95
    assert 0 < metrics["bestF2"]["threshold"] <= 1.0
    assert len(exp.models_) == 1


def test_experiment_page_level(spark):
    # (per-page metrics asserted below via exp.page_metrics_)
    df = _journey_df(spark)
    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="response",
        text_cols=["text"],
        page_col="page",
        num_pages=2,
        slots=100,
        train_fraction=0.7,
    )
    exp = Experiment(cfg)
    metrics = exp.run(spark, df)
    assert len(exp.models_) == 2  # page 1 + pages >= 2
    assert metrics["accuracy"] > 0.9
    assert len(exp.page_metrics_) == 2
    assert all(pm["accuracy"] > 0.8 for pm in exp.page_metrics_)


def test_experiment_savepoints_roundtrip(spark, tmp_path):
    df = _journey_df(spark, 120)
    root = str(tmp_path / "sp")
    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="response",
        text_cols=["text"],
        slots=50,
        savepoint_root=root,
    )
    Experiment(cfg).run(spark, df)
    import json as _json

    with open(f"{root}/metrics/metrics.json") as f:
        m = _json.load(f)
    assert "test.accuracy" in m and "test.auroc" in m

    (reloaded,) = Experiment(cfg).load_models()
    out = reloaded.transform(df)
    assert "prediction" in out.columns
    scored = spark.read.parquet(f"{root}/default/model/page0/noSegment/data/scoringTest")
    assert scored.count() > 0


def test_streaming_window_agg_matches_batch(spark, tmp_path):
    """availableNow stream over the events parquet must equal the batch
    tumbling-window aggregation."""
    from flashml_spark.operators.events import tumbling_window_agg
    from flashml_spark.sources import load_table
    from flashml_spark.streaming import streaming_window_agg

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # stage a micros-normalized copy (streaming needs a schema-stable dir)
    src = str(tmp_path / "events_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = streaming_window_agg(stream, watermark="10 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["ws"], r["event_type"]): (r["n"], r["total"])
        for r in spark.table("win_agg").collect()
    }
    expected = {
        (r["ws"], r["event_type"]): (r["n"], r["total"])
        for r in tumbling_window_agg(ev).collect()
    }
    assert got == expected


def test_streaming_parquet_sink_exactly_closed_windows(spark, tmp_path):
    """Append-mode parquet sink e2e: multi-batch availableNow drain emits
    exactly the windows the watermark has closed — all real windows except
    the one containing the max real event time (closed only by the sentinel
    batch that arrives after the watermark snapshot)."""
    from flashml_spark.operators.events import tumbling_window_agg
    from flashml_spark.sources import load_table
    from flashml_spark.streaming import streaming_window_agg, write_stream_parquet

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    max_ts = ev.agg(F.max("ts")).first()[0]
    # sentinel file lands after the real data: its batch runs with the
    # watermark already at max real event time, closing every real window
    sentinel = (
        ev.limit(1)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 48 HOURS"))
        .withColumn("event_type", F.lit("__sentinel__"))
    )
    sentinel.write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    agg = streaming_window_agg(stream, watermark="0 seconds")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = write_stream_parquet(agg, out, ckpt)
    q.awaitTermination(120)

    got = {
        (r["ws"], r["event_type"]): (r["n"], r["total"])
        for r in spark.read.parquet(out).collect()
        if r["event_type"] != "__sentinel__"
    }
    # expected: batch agg restricted to windows closed by the watermark
    expected = {
        (r["ws"], r["event_type"]): (r["n"], r["total"])
        for r in tumbling_window_agg(ev).collect()
        if r["ws"] + __import__("datetime").timedelta(hours=1) <= max_ts
    }
    assert got == expected and len(got) > 0

    # restart from the checkpoint with no new input: no duplicate output
    q2 = write_stream_parquet(streaming_window_agg(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 2).parquet(src),
        watermark="0 seconds",
    ), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).filter(
        F.col("event_type") != "__sentinel__"
    ).count() == len(expected)


def test_streaming_session_stats_runs(spark, tmp_path):
    from flashml_spark.sources import load_table
    from flashml_spark.streaming import streaming_session_stats

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_src2")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_session_stats(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("sessions").collect()
    assert len(rows) > 0
    assert all(r["session_end"] >= r["session_start"] for r in rows)


def test_stateful_running_totals_matches_batch(spark, tmp_path):
    """applyInPandasWithState running totals: after processing all input,
    the LAST emitted row per user must equal the batch groupBy answer."""
    import pyspark.sql.functions as F

    from flashml_spark.sources import load_table
    from flashml_spark.streaming.stateful import running_totals

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "value"
    )
    src = str(tmp_path / "events_src3")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("running")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode appends every emission; the final state per user is the max
    # n_events row (counts only grow)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.table("running")
        .orderBy("n_events")
        .collect()
    }
    expected = {
        r["user_id"]: (r["n"], round(r["total"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == expected


def test_metrics_accumulator_and_confusion_text(spark, tmp_path):
    from flashml_spark.metrics.report import (
        MetricsAccumulator,
        per_class_stats,
        write_confusion_text,
    )

    scored = spark.createDataFrame(
        [(0.0, 0.0)] * 50 + [(0.0, 1.0)] * 10 + [(1.0, 1.0)] * 30 + [(1.0, 0.0)] * 10,
        "label double, prediction double",
    )
    stats = {r["cls"]: r for r in per_class_stats(scored, "label", "prediction").collect()}
    assert stats[0.0]["tp"] == 50 and stats[0.0]["fp"] == 10 and stats[0.0]["fn"] == 10
    assert stats[1.0]["tp"] == 30 and stats[1.0]["fp"] == 10 and stats[1.0]["fn"] == 10
    assert abs(stats[1.0]["precision"] - 0.75) < 1e-9
    assert abs(stats[1.0]["recall"] - 0.75) < 1e-9

    acc = MetricsAccumulator()
    acc.add("test", {"auroc": 0.8, "f1": 0.75})
    acc.add("", {"algorithm": "lr"})
    paths = acc.write(str(tmp_path / "metrics"))
    import json as _json

    with open(paths["json"]) as f:
        loaded = _json.load(f)
    assert loaded["test.auroc"] == 0.8 and loaded["algorithm"] == "lr"
    with open(paths["csv"]) as f:
        assert "test.f1" in f.read()

    out = str(tmp_path / "confusion")
    write_confusion_text(scored, "label", "prediction", out)
    import glob

    (txt,) = glob.glob(f"{out}/part-*")
    lines = sorted(open(txt).read().strip().splitlines())
    assert len(lines) == 2 and lines[0].startswith("0.0\t50\t10\t10")


def test_read_source_dispatch(spark, tmp_path):
    """URI-scheme dispatching reader (DataReaderFactory semantics)."""
    import pytest

    from flashml_spark.sources.readers import read_source, validate_input_query

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    pq = str(tmp_path / "t.parquet")
    csv = str(tmp_path / "t.csv")
    tsv = str(tmp_path / "t.tsv")
    js = str(tmp_path / "t.json")
    df.write.parquet(pq)
    df.write.option("header", "true").csv(csv)
    df.write.option("header", "true").option("sep", "\t").csv(tsv)
    df.write.json(js)

    assert read_source(spark, f"parquet://{pq}").count() == 2
    assert read_source(spark, pq).count() == 2  # scheme sniffed from extension
    assert read_source(spark, f"csv://{csv}").columns == ["k", "v"]
    assert read_source(spark, f"tsv://{tsv}").columns == ["k", "v"]
    assert read_source(spark, f"json://{js}").count() == 2

    df.createOrReplaceTempView("dispatch_view")
    assert read_source(spark, "hive://dispatch_view").count() == 2

    with pytest.raises(ValueError):
        read_source(spark, "ftp://nope")
    with pytest.raises(ValueError):
        validate_input_query("SELECT * FROM t")
    validate_input_query("CREATE TEMPORARY VIEW v AS SELECT 1")


def test_publish_and_qa_data(spark, tmp_path):
    """QA data joins scored rows back to the input and samples."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    from flashml_spark.publish import qa_data, write_qa_data

    df = _journey_df(spark, 200).withColumn(
        "resp_d", F.col("response").cast("double")
    )
    scored = Pipeline(stages=[
        RegexTokenizer(inputCol="text", outputCol="toks", pattern=r"\s+"),
        HashingTF(inputCol="toks", outputCol="features", numFeatures=64),
        LogisticRegression(labelCol="resp_d", featuresCol="features", maxIter=5),
    ]).fit(df).transform(df)

    qa = qa_data(scored, df, ["session_id", "page"], n_rows=20)
    assert 0 < qa.count() <= 20
    assert "prediction" in qa.columns and "session_id" in qa.columns
    out = str(tmp_path / "qa_csv")
    write_qa_data(qa.select("session_id", "page", "prediction"), out)
    import glob
    (f,) = glob.glob(f"{out}/part-*.csv")
    assert open(f).readline().startswith("session_id")


def test_config_loading_and_scopes(spark, tmp_path):
    """JSON config (reference dotted naming) -> ExperimentConfig; scope
    resolution noPage/allPage/perPage; validation failures."""
    import json

    import pytest

    from flashml_spark.config import infer_scope, load_config, resolve_scoped

    raw = {
        "project": {"data": {
            "primaryKey": ["session_id"],
            "responseVariable": "response",
            "textVariables": ["text"],
            "categoricalVariables": ["device"],
            "numericalVariables": ["dwell"],
            "pageVariable": "page",
            "numPages": 3,
        }},
        "sampling": {"type": "random", "trainFraction": 0.8, "seed": 20},
        "vectorization": {"text": {"method": "hashingtf", "slots": 64}},
        "model": {"algorithm": "logistic_regression", "params": {"maxIter": 5}},
        "unknown": {"future": "ignored"},
    }
    cfg = load_config(raw)
    assert cfg.primary_keys == ["session_id"] and cfg.num_pages == 3
    assert cfg.algorithm == "logistic_regression" and cfg.slots == 64

    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(raw))
    assert load_config(str(p)).response == "response"
    assert load_config(json.dumps(raw)).page_col == "page"

    assert resolve_scoped(0.5, "noPage", 3) == [0.5]
    assert resolve_scoped(0.5, "allPage", 3) == [0.5, 0.5, 0.5]
    assert resolve_scoped([1, 2, 3], "perPage", 3) == [1, 2, 3]
    with pytest.raises(ValueError):
        resolve_scoped([1, 2], "perPage", 3)
    with pytest.raises(ValueError):
        resolve_scoped(1, "somePage", 3)
    assert infer_scope([1, 2, 3], 3) == "perPage"
    assert infer_scope(0.5, 3) == "allPage"
    assert infer_scope(0.5, 1) == "noPage"

    bad = dict(raw)
    bad["model"] = {"algorithm": "xgboost"}
    with pytest.raises(ValueError, match="model.algorithm"):
        load_config(bad)
    bad2 = {"project": {"data": {"responseVariable": "r", "numPages": 2}}}
    with pytest.raises(ValueError, match="pageVariable"):
        load_config(bad2)


def test_config_driven_experiment_golden(spark):
    """Config-driven end-to-end run with fixed seeds — the metric map must
    be reproducible run-to-run (regression anchor, reference systemTests
    style)."""
    from flashml_spark.config import load_config
    from flashml_spark.experiment import Experiment

    cfg = load_config({
        "project": {"data": {
            "primaryKey": ["session_id"],
            "responseVariable": "response",
            "textVariables": ["text"],
            "categoricalVariables": ["device"],
            "numericalVariables": ["dwell"],
        }},
        "sampling": {"type": "random", "trainFraction": 0.8, "seed": 20},
        "vectorization": {"text": {"method": "hashingtf", "slots": 64}},
        "model": {"algorithm": "logistic_regression", "params": {"maxIter": 10}},
    })
    df = _journey_df(spark, 300)
    m1 = Experiment(cfg).run(spark, df)
    m2 = Experiment(cfg).run(spark, df)
    assert m1["accuracy"] == m2["accuracy"]
    assert m1["auroc"] == m2["auroc"]
    # the synthetic data is linearly separable on text -> near-perfect fit
    assert m1["accuracy"] > 0.95 and m1["auroc"] > 0.95


def test_experiment_cv_tuning(spark):
    """Grid-CV modelling path: fold metrics recorded, best params chosen,
    final model refit on full train."""
    from flashml_spark.experiment import Experiment, ExperimentConfig

    cfg = ExperimentConfig(
        primary_keys=["session_id"], response="response", text_cols=["text"],
        text_method="hashingtf", slots=32,
        algorithm="logistic_regression",
        tuning="cv", param_grid={"regParam": [0.0, 0.5], "maxIter": [5]},
        cv_folds=2, parallelism=2,
    )
    exp = Experiment(cfg)
    metrics = exp.run(spark, _journey_df(spark, 200))
    assert metrics["accuracy"] > 0.9
    (info,) = exp.tuning_
    assert len(info["foldMetrics"]) == 2 * 2  # grid x folds
    assert info["bestParams"] in ({"regParam": 0.0, "maxIter": 5},
                                  {"regParam": 0.5, "maxIter": 5})


def test_experiment_cv_predict_savepoint(spark, tmp_path):
    """experiment.cv.predictSavepoint contract: best param map's per-fold
    validation predictions land under <root>/cvData/page0/predictedData with
    the colsToSave schema (primary keys + prediction + probability), covering
    every input row exactly once across folds."""
    from flashml_spark.experiment import Experiment, ExperimentConfig

    root = str(tmp_path / "sp")
    cfg = ExperimentConfig(
        primary_keys=["session_id"], response="response", text_cols=["text"],
        text_method="hashingtf", slots=32,
        algorithm="logistic_regression",
        tuning="cv", param_grid={"regParam": [0.0, 0.5], "maxIter": [5]},
        cv_folds=2, parallelism=2,
        cv_predict_savepoint=True, savepoint_root=root,
    )
    exp = Experiment(cfg)
    exp.run(spark, _journey_df(spark, 200))
    saved = spark.read.parquet(f"{root}/cvData/page0/predictedData")
    assert set(saved.columns) == {"session_id", "prediction", "probability"}
    # folds partition the train split: each row scored exactly once
    n = saved.count()
    assert saved.select("session_id").distinct().count() == n
    assert 0 < n < 200  # the 0.8 train split, never the test rows


def test_experiment_svm_platt(spark):
    """SVM auto-enables Platt: scored output gains calibrated probability
    and AUROC is computable from it."""
    from flashml_spark.experiment import Experiment, ExperimentConfig

    cfg = ExperimentConfig(
        primary_keys=["session_id"], response="response", text_cols=["text"],
        text_method="hashingtf", slots=32, algorithm="svm",
        algo_params={"maxIter": 10},
    )
    exp = Experiment(cfg)
    metrics = exp.run(spark, _journey_df(spark, 200))
    assert "auroc" in metrics and metrics["auroc"] > 0.9


def test_experiment_uplift(spark):
    """Uplift mode: treatment col last slot; probability becomes [1-d, d]."""
    import pyspark.sql.functions as F

    from flashml_spark.experiment import Experiment, ExperimentConfig

    df = _journey_df(spark, 200).withColumn(
        "treated", (F.col("dwell") % 2 == 0).cast("double")
    )
    cfg = ExperimentConfig(
        primary_keys=["session_id"], response="response", text_cols=["text"],
        numerical_cols=["treated"], text_method="hashingtf", slots=32,
        algorithm="logistic_regression", algo_params={"maxIter": 5},
        uplift_treatment="treated",
    )
    exp = Experiment(cfg)
    exp.run(spark, df)
    assert len(exp.models_) == 1


def test_experiment_predict_only_resume(spark, tmp_path):
    """Train with savepoints, then a FRESH Experiment scores unlabeled data
    from the persisted per-page models without refitting (SURVEY §3.2)."""
    from flashml_spark.experiment import Experiment, ExperimentConfig

    root = str(tmp_path / "sp")
    cfg = ExperimentConfig(
        primary_keys=["session_id"], response="response", text_cols=["text"],
        text_method="hashingtf", slots=32,
        algorithm="logistic_regression", algo_params={"maxIter": 5},
        page_col="page", num_pages=2, savepoint_root=root,
    )
    Experiment(cfg).run(spark, _journey_df(spark, 200))

    fresh = Experiment(cfg)
    unlabeled = _journey_df(spark, 60).drop("response")
    scored = fresh.predict(spark, unlabeled)
    assert scored.count() == 60
    assert "prediction" in scored.columns
    assert len(fresh.models_) == 2


@pytest.fixture(scope="module")
def binned_pages_run(spark, tmp_path_factory):
    """One training run of a 3-page config with binning and savepoints."""
    cfg = ExperimentConfig(
        primary_keys=["session_id"], response="response", text_cols=["text"],
        categorical_cols=["device"], numerical_cols=["dwell"],
        binning=[{"variable": "dwell", "type": "equiarea_exact", "buckets": 3}],
        text_method="hashingtf", slots=32,
        algorithm="logistic_regression", algo_params={"maxIter": 5},
        page_col="page", num_pages=3,
        savepoint_root=str(tmp_path_factory.mktemp("binned_pages")),
    )
    Experiment(cfg).run(spark, _journey_df(spark, 300))
    return cfg


def test_experiment_predict_binned_pages_scores_every_row_once(
    spark, binned_pages_run
):
    """Page-qualified binned columns (<var>_page<k>_binned) are dropped per
    page, so predict unions the pages and scores each input row once."""
    scored = Experiment(binned_pages_run).predict(
        spark, _journey_df(spark, 90).drop("response")
    )
    assert not [c for c in scored.columns if c.endswith("_binned")]
    assert scored.count() == 90
    assert scored.select("session_id").distinct().count() == 90


def test_experiment_predict_reproduces_run_scoring(spark, binned_pages_run):
    """predict on the run's own test split gives the run's scored rows."""
    from flashml_spark.sources.savepoint import SavepointManager

    cfg = binned_pages_run
    sp = SavepointManager(spark, cfg.savepoint_root)
    cols = [*cfg.primary_keys, "page", "prediction", "prediction_label"]
    got = Experiment(cfg).predict(spark, sp.load("sampling", "test")).select(cols)
    want = sp.load("scoring", "test", page=0).select(cols)
    for k in (1, 2):
        want = want.unionByName(sp.load("scoring", "test", page=k).select(cols))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_sliding_window_matches_batch(spark, tmp_path):
    from flashml_spark.operators.events import sliding_window_agg
    from flashml_spark.sources import load_table
    from flashml_spark.streaming.events import streaming_sliding_window_agg

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_src4")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_sliding_window_agg(stream, watermark="10 seconds")
        .writeStream.format("memory")
        .queryName("slide_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["ws"], r["event_type"]): (r["n"], r["total"])
        for r in spark.table("slide_agg").collect()
    }
    expected = {
        (r["ws"], r["event_type"]): (r["n"], r["total"])
        for r in sliding_window_agg(ev).collect()
    }
    assert got == expected


def _intent_df(spark):
    """240 utterances, three intents, one fixed phrase each."""
    phrases = {
        "billing": "invoice charge payment overdue bill",
        "support": "help broken error crash fix",
        "sales": "buy pricing demo quote upgrade",
    }
    rows = []
    for i in range(240):
        intent = ("billing", "support", "sales")[i % 3]
        rows.append((f"{i:06x}", phrases[intent], intent))
    return spark.createDataFrame(rows, ["sid", "text", "intent"])


def test_experiment_multi_intent_svm_ovr(spark):
    """Multi-intent SVM routes through OVR with per-class margins + Platt
    calibration (LinearSVC alone is binary-only)."""
    from flashml_spark.experiment import Experiment, ExperimentConfig

    df = _intent_df(spark)

    cfg = ExperimentConfig(
        primary_keys=["sid"], response="intent", text_cols=["text"],
        text_method="hashingtf", slots=64, algorithm="svm",
        algo_params={"maxIter": 10}, multi_intent=True, top_k=2,
    )
    exp = Experiment(cfg)
    metrics = exp.run(spark, df)
    assert metrics["accuracy"] > 0.95
    assert len(metrics["perClass"]) == 3


def test_experiment_hyperband_tuning(spark):
    """HyperBand modelling path through the config API with a tiny budget:
    history recorded, best params picked, model usable."""
    from flashml_spark.experiment import Experiment, ExperimentConfig

    cfg = ExperimentConfig(
        primary_keys=["session_id"], response="response", text_cols=["text"],
        text_method="hashingtf", slots=32,
        algorithm="logistic_regression",
        tuning="hyperband",
        param_ranges={"regParam": (0.0, 0.5)},
        hyperband_max_iter=4, hyperband_eta=2,
        hyperband_iteration_multiplier=2, hyperband_final_max_iter=10,
        parallelism=2,
    )
    exp = Experiment(cfg)
    metrics = exp.run(spark, _journey_df(spark, 200))
    assert metrics["accuracy"] > 0.9
    (info,) = exp.tuning_
    assert info["history"] and "regParam" in info["bestParams"]


def test_multi_intent_svm_pipeline_roundtrip(spark, tmp_path):
    """The multi-intent SVM tail (OneVsRestModel + PlattScalarModel)
    is MLWritable: the per-page pipeline saves, reloads — including in a
    FRESH interpreter/JVM — and reproduces predictions exactly (reference
    ``systemTests/MultiIntentSVMTest.scala:24-107``,
    ``OneVsRestCustomModel.scala:144-237``, ``PlattScalar.scala:363-399``)."""
    import subprocess
    import sys

    from pyspark.ml.classification import OneVsRestModel

    from flashml_spark.experiment import Experiment, ExperimentConfig
    from flashml_spark.training.platt import PlattScalarModel

    df = _intent_df(spark)

    root = str(tmp_path / "sp")
    cfg = ExperimentConfig(
        primary_keys=["sid"], response="intent", text_cols=["text"],
        text_method="hashingtf", slots=64, algorithm="svm",
        algo_params={"maxIter": 10}, multi_intent=True, top_k=2,
        savepoint_root=root,
    )
    exp = Experiment(cfg)
    exp.run(spark, df)

    # the saved pipeline tail must be the OVR composite + Platt calibrator
    (loaded,) = Experiment(cfg).load_models()
    assert isinstance(loaded.stages[-2], OneVsRestModel)
    assert isinstance(loaded.stages[-1], PlattScalarModel)

    def rowmap(scored):
        return {
            r["sid"]: (r["prediction"], [round(p, 9) for p in r["probability"]])
            for r in scored.select("sid", "prediction", "probability").collect()
        }

    in_mem = rowmap(exp.models_[0].transform(df))
    reloaded = rowmap(loaded.transform(df))
    assert in_mem == reloaded

    # predict-only resume path (fresh Experiment, models from disk) matches
    fresh = Experiment(cfg)
    scored = fresh.predict(spark, df)
    assert rowmap(scored) == in_mem
    assert "topKIntents" in scored.columns  # TopK post chain applied

    # FRESH-SESSION reload: a separate interpreter + JVM loads the saved
    # pipeline and must reproduce identical predictions
    data_path = str(tmp_path / "mi_input")
    out_path = str(tmp_path / "mi_scored_fresh")
    df.write.parquet(data_path)
    script = tmp_path / "reload_score.py"
    script.write_text(
        "from flashml_spark.experiment import Experiment, ExperimentConfig\n"
        "from flashml_spark.session import get_spark\n"
        "spark = get_spark('fresh-reload', cpus=4, shuffle_partitions=4)\n"
        f"(m,) = Experiment(ExperimentConfig(savepoint_root={root!r})).load_models()\n"
        f"scored = m.transform(spark.read.parquet({data_path!r}))\n"
        f"scored.select('sid', 'prediction', 'probability').write.parquet({out_path!r})\n"
    )
    import os

    repo = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, PYTHONPATH=repo)
    subprocess.run(
        [sys.executable, str(script)], check=True, cwd=repo,
        capture_output=True, timeout=300, env=env,
    )
    fresh_rows = {
        r["sid"]: (r["prediction"], [round(p, 9) for p in r["probability"]])
        for r in spark.read.parquet(out_path).collect()
    }
    assert fresh_rows == in_mem


def test_multi_intent_svm_saves_spark_one_vs_rest(spark, tmp_path):
    """The saved multi-intent SVM page pipeline's OVR stage is Spark's own
    ``OneVsRestModel``: Scala's ``OneVsRestModel.load`` reads it, and its
    ``rawPrediction[k]`` is the ``rawPrediction[1]`` of a LinearSVC fitted
    directly on ``label == k`` over the same training frame."""
    from pyspark.ml.classification import LinearSVC, OneVsRestModel
    from pyspark.ml.functions import vector_to_array

    from flashml_spark.sources.savepoint import SavepointManager

    root = str(tmp_path / "sp")
    cfg = ExperimentConfig(
        primary_keys=["sid"], response="intent", text_cols=["text"],
        text_method="hashingtf", slots=64, algorithm="svm",
        algo_params={"maxIter": 10}, multi_intent=True, savepoint_root=root,
    )
    Experiment(cfg).run(spark, _intent_df(spark))

    (loaded,) = Experiment(cfg).load_models()
    ovr = loaded.stages[-2]
    assert isinstance(ovr, OneVsRestModel)
    # the saved model pipeline holds the tail only, so OVR is its stage 0
    jvm_ovr = spark._jvm.org.apache.spark.ml.classification.OneVsRestModel.load(
        f"{root}/pipeline/page0/model_pipeline/stages/0_{ovr.uid}"
    )
    assert len(jvm_ovr.models()) == 3

    sp = SavepointManager(spark, root)
    train = sp.load("vectorization", "train")
    test = sp.load("vectorization", "test").select("sid", "features")
    margins = {
        r["sid"]: r["m"]
        for r in ovr.transform(test)
        .select("sid", vector_to_array("rawPrediction").alias("m"))
        .collect()
    }
    for k in range(3):
        binary = train.withColumn("y", (F.col("intent_indexed") == float(k)).cast("double"))
        svm = LinearSVC(maxIter=10, labelCol="y").fit(binary)
        for r in svm.transform(test).select(
            "sid", vector_to_array("rawPrediction").getItem(1).alias("m")
        ).collect():
            assert margins[r["sid"]][k] == pytest.approx(r["m"], rel=1e-9, abs=1e-12)


def test_experiment_step_level_resume(spark, tmp_path):
    """Step-level pipeline resume (``PipelineSteps.scala:73-78,112-134,
    207-243``; ``SavePointManager.loadData:89-135``): run the full
    pipeline with savepoints, then resume a FRESH Experiment from each of
    modelling / vectorization / sampling.  Steps before the resume point
    replay from parquet savepoints only, and the resumed run's scored
    savepoint and metrics must be BYTE-IDENTICAL to the original's."""
    root = str(tmp_path / "resume")
    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="response",
        text_cols=["text"],
        categorical_cols=["device"],
        numerical_cols=["dwell"],
        slots=50,
        page_col="page",
        num_pages=2,
        savepoint_root=root,
    )
    base = Experiment(cfg)
    base_metrics = base.run(spark, _journey_df(spark, 240))

    def scored_rows():
        rows = []
        for k in range(2):
            df = spark.read.parquet(
                f"{root}/default/model/page{k}/noSegment/data/scoringTest"
            )
            rows.extend((k, tuple(r)) for r in df.collect())
        return sorted(rows, key=repr)

    baseline = scored_rows()
    assert baseline
    for step in ("modelling", "vectorization", "sampling"):
        resumed = Experiment(cfg)
        m = resumed.run(spark, resume_from=step)
        assert m == base_metrics, f"metrics drifted resuming at {step}"
        assert scored_rows() == baseline, f"scored rows drifted resuming at {step}"
        assert len(resumed.models_) == 2

    with pytest.raises(ValueError, match="resume_from"):
        Experiment(cfg).run(spark, resume_from="preprocessing")
    no_sp = ExperimentConfig(response="response", text_cols=["text"])
    with pytest.raises(ValueError, match="savepoint_root"):
        Experiment(no_sp).run(spark, resume_from="modelling")
    with pytest.raises(ValueError, match="DataFrame"):
        Experiment(cfg).run(spark)
