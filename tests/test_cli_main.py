"""End-to-end test of the config-file CLI (``python -m flashml_spark``) —
the reference's only public entry point (``FlashML.scala:27-83``)."""

from __future__ import annotations

import json
import os


def _write_input(spark, path: str) -> None:
    rows = [
        (
            i,
            "buy now great deal" if i % 3 == 0 else "just browsing around",
            "mobile" if i % 2 == 0 else "desktop",
            float(i % 17),
            1.0 if i % 3 == 0 else 0.0,
        )
        for i in range(240)
    ]
    spark.createDataFrame(
        rows, "session_id int, text string, device string, dwell double, response double"
    ).write.mode("overwrite").parquet(path)


def _base_config(tmp_path, source: str, root: str) -> dict:
    return {
        "project": {
            "id": "cli_e2e",
            "logLevel": "ERROR",
            "data": {
                "location": {"source": source},
                "primaryKey": ["session_id"],
                "responseVariable": "response",
                "textVariables": ["text"],
                "categoricalVariables": ["device"],
                "numericalVariables": ["dwell"],
            },
        },
        "sampling": {"type": "random", "trainFraction": 0.7, "seed": 20},
        "vectorization": {"text": {"method": "tfidf", "slots": 100}},
        "model": {"algorithm": "logistic_regression"},
        "savepoint": {"root": root},
    }


def test_cli_model_run_writes_metrics_and_pipelines(spark, tmp_path):
    from flashml_spark.__main__ import main

    src = str(tmp_path / "input.parquet")
    root = str(tmp_path / "sp")
    _write_input(spark, src)
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(_base_config(tmp_path, f"parquet://{src}", root)))

    assert main([str(cfg_path)]) == 0
    # metrics written under the savepoint root
    with open(f"{root}/metrics/metrics.json") as f:
        metrics = json.load(f)
    assert metrics["test.accuracy"] > 0.9
    # fitted pipeline artifacts exist (predict-only resume contract)
    assert os.path.isdir(f"{root}/pipeline/page0/model_pipeline")
    assert os.path.isdir(f"{root}/pipeline/page0/prep_pipeline")


def test_cli_sql_view_chain_feeds_pipeline(spark, tmp_path):
    """location.queries: the source registers as <prefix>in, the chain's
    LAST result is the pipeline input (DataReader.scala:105-120)."""
    from flashml_spark.__main__ import main

    src = str(tmp_path / "input2.parquet")
    root = str(tmp_path / "sp2")
    _write_input(spark, src)
    cfg = _base_config(tmp_path, f"parquet://{src}", root)
    cfg["project"]["data"]["location"]["queries"] = [
        "SELECT * FROM flashml_table_in WHERE session_id < 120"
    ]
    cfg_path = tmp_path / "config_chain.json"
    cfg_path.write_text(json.dumps(cfg))
    assert main([str(cfg_path)]) == 0
    with open(f"{root}/metrics/metrics.json") as f:
        metrics = json.load(f)
    assert metrics["test.accuracy"] > 0.8


def test_cli_predict_mode_scores_with_persisted_models(spark, tmp_path):
    from flashml_spark.__main__ import main

    src = str(tmp_path / "input3.parquet")
    root = str(tmp_path / "sp3")
    out = str(tmp_path / "scored.parquet")
    _write_input(spark, src)
    train_cfg = tmp_path / "train.json"
    train_cfg.write_text(json.dumps(_base_config(tmp_path, f"parquet://{src}", root)))
    assert main([str(train_cfg)]) == 0

    pred = _base_config(tmp_path, f"parquet://{src}", root)
    pred["experiment"] = {"type": "predict"}
    pred["predict"] = {"output": out}
    pred_cfg = tmp_path / "predict.json"
    pred_cfg.write_text(json.dumps(pred))
    assert main([str(pred_cfg)]) == 0

    scored = spark.read.parquet(out)
    assert scored.count() > 0
    assert "prediction" in scored.columns


def test_cli_predict_mode_binned_pages(spark, tmp_path):
    """predict mode on a 3-page config with binning scores every row once."""
    from pyspark.sql import functions as F

    from flashml_spark.__main__ import main

    raw = str(tmp_path / "raw.parquet")
    src = str(tmp_path / "input4.parquet")
    root = str(tmp_path / "sp4")
    out = str(tmp_path / "scored4.parquet")
    _write_input(spark, raw)
    spark.read.parquet(raw).withColumn(
        "page", F.col("session_id") % 3 + 1
    ).write.parquet(src)
    cfg = _base_config(tmp_path, f"parquet://{src}", root)
    cfg["project"]["data"].update(pageVariable="page", numPages=3)
    cfg["featuregeneration"] = {
        "binning": [{"variable": "dwell", "type": "equiarea_exact", "buckets": 3}]
    }
    train_cfg = tmp_path / "train4.json"
    train_cfg.write_text(json.dumps(cfg))
    assert main([str(train_cfg)]) == 0

    cfg["experiment"] = {"type": "predict"}
    cfg["predict"] = {"output": out}
    pred_cfg = tmp_path / "predict4.json"
    pred_cfg.write_text(json.dumps(cfg))
    assert main([str(pred_cfg)]) == 0

    scored = spark.read.parquet(out)
    assert not [c for c in scored.columns if c.endswith("_binned")]
    assert scored.count() == scored.select("session_id").distinct().count() == 240


def test_cli_rejects_invalid_config(tmp_path):
    from flashml_spark.__main__ import main

    bad = {"project": {"data": {"location": {"source": "parquet:///nope"}}},
           "model": {"algorithm": "not_an_algorithm"}}
    p = tmp_path / "bad.json"
    p.write_text(json.dumps(bad))
    assert main([str(p)]) == 2


def test_cli_requires_source(tmp_path):
    from flashml_spark.__main__ import main

    cfg = {"project": {"data": {"responseVariable": "y"}}}
    p = tmp_path / "nosource.json"
    p.write_text(json.dumps(cfg))
    assert main([str(p)]) == 2
