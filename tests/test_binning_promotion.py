"""Binned-column -> categorical promotion contract
(``ConfigValues.scala:104-119,380-430``).

A numeric variable with a binning spec materializes per page as
``<var>_page<k>_binned`` (1-indexed), LEAVES the numerical assembler slots
and JOINS the categorical set for vectorization; the dataReader keep-list
and publish/QA continue to address the originally-declared variables.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flashml_spark.experiment import Experiment, ExperimentConfig
from flashml_spark.operators.binning import (
    BinningEstimator,
    BinningModel,
    binning_output_name,
    binning_specs_for_page,
    resolve_binned_roles,
)


def test_resolve_binned_roles_bookkeeping():
    numerical, categorical, renames = resolve_binned_roles(
        ["dwell", "latency"], ["device"], [{"variable": "dwell"}], page=2
    )
    assert numerical == ["latency"]
    assert categorical == ["device", "dwell_page2_binned"]
    assert renames == [("dwell", "dwell_page2_binned")]
    assert binning_output_name("dwell", 1) == "dwell_page1_binned"


def test_binning_specs_scope_resolution():
    flat = [{"variable": "dwell"}]
    per_page = [[{"variable": "dwell"}], [], [{"variable": "latency"}]]
    assert binning_specs_for_page(flat, 0) == flat
    assert binning_specs_for_page(flat, 2) == flat  # allPage: same every page
    assert binning_specs_for_page(per_page, 1) == []
    assert binning_specs_for_page(per_page, 2) == [{"variable": "latency"}]
    assert binning_specs_for_page([], 0) == []


def test_binning_model_pipeline_roundtrip(spark, tmp_path):
    """The fitted binning stage must survive PipelineModel save/load with
    identical bucket assignment (it persists inside the prep pipeline)."""
    from pyspark.ml import Pipeline, PipelineModel

    df = spark.range(100).select(F.col("id").cast("double").alias("v"))
    est = BinningEstimator(inputCol="v", outputCol="v_page1_binned",
                           method="equidistant", numBuckets=4)
    model = Pipeline(stages=[est]).fit(df)
    assert isinstance(model.stages[0], BinningModel)
    path = str(tmp_path / "binpipe")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    orig = [r["v_page1_binned"] for r in model.transform(df).orderBy("v").collect()]
    back = [r["v_page1_binned"] for r in reloaded.transform(df).orderBy("v").collect()]
    assert orig == back and sorted(set(orig)) == [0, 1, 2, 3]


def _journeys(spark, n=240):
    rows = []
    for i in range(n):
        good = i % 2 == 0
        rows.append(
            (
                f"{i:08x}",
                (i % 3) + 1,
                "buy now great deal" if good else "just browsing around",
                "mobile" if i % 4 < 2 else "desktop",
                float(i % 17),
                "1" if good else "0",
            )
        )
    return spark.createDataFrame(
        rows, ["session_id", "page", "text", "device", "dwell", "response"]
    )


def test_experiment_binning_promotes_column(spark):
    """End-to-end: the fitted prep pipeline emits dwell_page1_binned, the
    categorical array carries its category tokens, and the assembler gets
    no raw numerical slot for dwell."""
    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="response",
        text_cols=["text"],
        categorical_cols=["device"],
        numerical_cols=["dwell"],
        binning=[{"variable": "dwell", "type": "equidistant", "buckets": 4}],
        text_method="hashingtf",
        slots=64,
        algorithm="logistic_regression",
        train_fraction=0.7,
        seed=20,
    )
    exp = Experiment(cfg)
    metrics = exp.run(spark, _journeys(spark))
    assert metrics["accuracy"] > 0.9  # binning must not break the model

    prep_out = exp.models_[0].transform(exp.read(_journeys(spark)))
    assert "dwell_page1_binned" in prep_out.columns
    cats = prep_out.select("categorical_array").first()["categorical_array"]
    assert any(tok.startswith("dwell_page1_binned_") for tok in cats)
    assert any(tok.startswith("device_") for tok in cats)


def test_experiment_binning_page_qualified_names(spark):
    """Page-level run: page k's pipeline emits <var>_page<k+1>_binned."""
    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="response",
        text_cols=["text"],
        categorical_cols=["device"],
        numerical_cols=["dwell"],
        page_col="page",
        num_pages=3,
        binning=[{"variable": "dwell", "type": "equidistant", "buckets": 3}],
        text_method="hashingtf",
        slots=64,
        algorithm="logistic_regression",
        train_fraction=0.7,
        seed=20,
    )
    exp = Experiment(cfg)
    exp.run(spark, _journeys(spark))
    assert len(exp.models_) == 3
    data = exp.read(_journeys(spark))
    for k, model in enumerate(exp.models_):
        out = model.transform(data.filter(F.col("page") == k + 1))
        assert binning_output_name("dwell", k + 1) in out.columns


def test_load_config_binning_validation():
    from flashml_spark.config import load_config

    base = {
        "project": {"data": {
            "responseVariable": "response",
            "numericalVariables": ["dwell"],
        }},
        "featuregeneration": {"binning": [
            {"variable": "dwell", "type": "equiarea", "buckets": 5}
        ]},
    }
    assert load_config(base).binning[0]["variable"] == "dwell"

    bad = {**base, "featuregeneration": {"binning": [
        {"variable": "nope", "type": "equiarea", "buckets": 5}
    ]}}
    with pytest.raises(ValueError, match="not in numericalVariables"):
        load_config(bad)
    bad2 = {**base, "featuregeneration": {"binning": [
        {"variable": "dwell", "type": "intervals"}
    ]}}
    with pytest.raises(ValueError, match="needs splits"):
        load_config(bad2)


def test_exact_quantile_splits_matches_percentile_agg(spark, monkeypatch):
    # r12: the distributed sort+interpolate path must be BIT-identical
    # to the percentile aggregate it replaced (formula
    # (hi-pos)*v[lo] + (pos-lo)*v[hi], floor/ceil positions).
    import random
    import struct
    from decimal import Decimal

    from pyspark.sql import functions as F

    from flashml_spark.functions import windows
    from flashml_spark.operators.binning import exact_quantile_splits

    def check(vals, dtype, n_bins):
        df = spark.createDataFrame([(v,) for v in vals], f"x {dtype}")
        got = exact_quantile_splits(df, "x", n_bins)
        qs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
        want_raw = df.agg(
            F.expr(f"percentile(x, array({qs}))").alias("qs")
        ).first()["qs"]
        want = []
        for s in want_raw:
            if not want or s > want[-1]:
                want.append(float(s))
        assert len(got) == len(want), (vals, got, want)
        for g, w in zip(got, want):
            assert struct.pack("<d", g) == struct.pack("<d", w), (vals, g, w)

    rng = random.Random(13)
    for n_rows, n_bins in ((7, 4), (96, 4), (313, 10), (1000, 3)):
        vals = [rng.uniform(-1e4, 1e6) for _ in range(n_rows)]
        vals += [vals[0]] * 3  # ties
        check(vals, "double", n_bins)
    nan = float("nan")
    edges = (
        [1.0, 2.0, nan, 3.0, -0.0, 0.0, 0.0, 5.0],  # NaN sorts last
        [0.0, -0.0, -0.0, 0.0, 1.0, 2.0],  # signed zeros
        [nan, nan, nan, 1.0, 2.0],  # all NaN but two
    )
    for vals in edges:
        for n_bins in (3, 4):
            check(vals, "double", n_bins)

    # non-float columns never reach the distributed sort: they keep the
    # percentile aggregate
    def no_sort(*args, **kwargs):
        raise AssertionError("global_row_number on a non-float column")

    monkeypatch.setattr(windows, "global_row_number", no_sort)
    ints = [rng.randrange(-50, 50) for _ in range(40)]
    check(ints, "int", 4)
    check([Decimal(v) / 4 for v in ints], "decimal(10,2)", 4)
