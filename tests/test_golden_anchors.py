"""Golden-metric regression anchors.

The reference pins expected end-to-end metrics as constants and fails the
suite when an estimator-path change shifts them (its system tests assert
stored precision values from ``application.conf``-style config).  Same
posture here: two fixed-seed experiments over a fully deterministic
synthetic dataset (no RNG — pure index formulas, with deterministic label
noise so metrics sit strictly inside (0, 1) and are sensitive to drift).

Count-ratio metrics (accuracy/precision/recall/F1) and the rank-sum AUROC
are asserted EXACTLY — they are rationals of integer counts, stable across
runs.  The best-F2 threshold is an LR probability, which carries ~1e-12
tree-aggregation jitter between fits, so it is pinned to 6 decimals.

The inputs are built in ``ANCHOR_SLICES`` (8) partitions, whatever the
session's core count.  ``Experiment.split`` is the reference's
``df.randomSplit(seed)``, which samples each partition by its index, so
the train/test rows follow the partition layout; with the layout fixed,
the constants hold on any core count (``createDataFrame`` from a list
would slice by ``defaultParallelism``, i.e. the cores).

Regenerate after an INTENDED estimator change by running the experiments
in any tests/conftest session and updating the constants — never loosen
the assertions instead.
"""

from __future__ import annotations

import pytest

from flashml_spark.experiment import Experiment, ExperimentConfig

TEXTS = {
    "billing": "pay my bill invoice due",
    "sales": "buy now great deal price",
    "support": "help me fix broken issue",
    "other": "just browsing around here",
}
INTENTS = ("billing", "sales", "support", "other")
# the partition layout the constants were generated under (module docstring)
ANCHOR_SLICES = 8

BINARY_LR_ANCHORS = {
    "accuracy": 0.8854166666666666,
    "weightedPrecision": 0.8888326585695007,
    "weightedRecall": 0.8854166666666666,
    "weightedF1": 0.8862393162393163,
    "auroc": 0.9018518518518519,
}
BINARY_LR_BESTF2 = {
    "fbeta": 0.9183673469387755,
    "precision": 0.6923076923076923,
    "recall": 1.0,
    "accuracy": 0.8333333333333334,
    "threshold_6dp": 0.08914,
}
MULTI_NB_ANCHORS = {
    "accuracy": 0.84375,
    "weightedPrecision": 0.8557692307692307,
    "weightedRecall": 0.84375,
    "weightedF1": 0.8418427002583978,
}


def _anchor_df(spark, n=400):
    rows = []
    for i in range(n):
        intent = INTENTS[i % 4] if i % 5 else "other"
        # deterministic label noise: every 6th row carries the NEXT
        # intent's text, so classes overlap and metrics leave 1.0
        text_src = INTENTS[(INTENTS.index(intent) + 1) % 4] if i % 6 == 0 else intent
        text = TEXTS[text_src] + f" tok{i % 11}"
        rows.append(
            (
                f"{i:08x}",
                text,
                "mobile" if i % 4 < 2 else "desktop",
                float(i % 7),
                intent,
                "1" if intent != "other" else "0",
            )
        )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, ANCHOR_SLICES),
        ["session_id", "text", "device", "dwell", "intent", "response"],
    )


def test_binary_lr_anchors(spark):
    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="response",
        text_cols=["text"],
        categorical_cols=["device"],
        numerical_cols=["dwell"],
        text_method="tfidf",
        slots=200,
        algorithm="logistic_regression",
        train_fraction=0.7,
        seed=20,
    )
    m = Experiment(cfg).run(spark, _anchor_df(spark))
    for key, expected in BINARY_LR_ANCHORS.items():
        assert m[key] == expected, f"{key}: {m[key]!r} != anchored {expected!r}"
    best = m["bestF2"]
    for key in ("fbeta", "precision", "recall", "accuracy"):
        assert best[key] == BINARY_LR_BESTF2[key], (key, best[key])
    assert round(best["threshold"], 6) == pytest.approx(
        BINARY_LR_BESTF2["threshold_6dp"], abs=1e-6
    )


def test_multi_intent_nb_anchors(spark):
    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="intent",
        text_cols=["text"],
        categorical_cols=["device"],
        numerical_cols=["dwell"],
        text_method="tfidf",
        slots=200,
        algorithm="naive_bayes",
        multi_intent=True,
        train_fraction=0.7,
        seed=20,
    )
    m = Experiment(cfg).run(spark, _anchor_df(spark))
    for key, expected in MULTI_NB_ANCHORS.items():
        assert m[key] == expected, f"{key}: {m[key]!r} != anchored {expected!r}"


# ---------------------------------------------------------------------------
# Uplift e2e anchor — mirrors the reference's BinarySVMPgUpliftTest.scala
# posture: a fixed-seed uplift experiment whose p1-p0 scores and downstream
# metrics are pinned as constants.  The treatment column occupies the LAST
# feature slot; uplift_transform forces it to 0 then 1 and emits
# probability = [1-d, d] with d = p1(1) - p0(1).
# ---------------------------------------------------------------------------

# NOTE on signs: StringIndexer orders labels by frequency, and "1" is the
# majority class in _uplift_df, so index 1 is label "0" — probability[1]
# is therefore d for the MINORITY class and comes out negative here.  The
# anchors pin the implementation, not a business interpretation.
UPLIFT_METRIC_ANCHORS = {
    "accuracy": 0.5520833333333334,
    "weightedPrecision": 0.3047960069444445,
    "weightedRecall": 0.5520833333333334,
    "weightedF1": 0.3927572706935123,
    "auroc": 0.4528301886792453,
}

UPLIFT_ROW_ANCHORS_6DP = {
    "00000000": -0.162444,
    "00000065": -0.169258,
    "000000c8": -0.166487,
    "0000012b": -0.171122,
}


def _uplift_df(spark, n=400):
    rows = []
    for i in range(n):
        treated = 1.0 if (i * 7) % 10 < 5 else 0.0
        base = 1 if (i * 3) % 10 < 3 else 0
        # treatment flips some negatives positive -> real positive uplift
        lift = 1 if treated and (i * 11) % 10 < 4 else 0
        label = "1" if (base or lift) else "0"
        rows.append(
            (
                f"{i:08x}",
                TEXTS[INTENTS[i % 4]] + f" tok{i % 13}",
                "mobile" if i % 3 == 0 else "desktop",
                float(i % 9),
                treated,
                label,
            )
        )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, ANCHOR_SLICES),
        ["session_id", "text", "device", "dwell", "treated", "response"],
    )


def test_uplift_e2e_anchors(spark):
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from flashml_spark.training.postprocess import uplift_transform

    cfg = ExperimentConfig(
        primary_keys=["session_id"],
        response="response",
        text_cols=["text"],
        categorical_cols=["device"],
        numerical_cols=["dwell", "treated"],
        uplift_treatment="treated",
        text_method="tfidf",
        slots=200,
        algorithm="logistic_regression",
        train_fraction=0.7,
        seed=20,
    )
    exp = Experiment(cfg)
    m = exp.run(spark, _uplift_df(spark))
    for key, expected in UPLIFT_METRIC_ANCHORS.items():
        assert m[key] == expected, f"{key}: {m[key]!r} != anchored {expected!r}"

    # re-derive per-row uplift from the persisted pipeline: prep stages +
    # classifier stage, then the slot-surgery transform — pins p1-p0 itself
    full = exp.models_[0]
    prep_stages, clf = full.stages[:-1], full.stages[-1]
    df = _uplift_df(spark)
    vec = df
    for st in prep_stages:
        vec = st.transform(vec)
    scored = uplift_transform(clf.transform(vec), clf)
    d = F.element_at(F.col("probability"), 2)
    got = {
        r["session_id"]: round(r["d"], 6)
        for r in scored.select("session_id", d.alias("d"))
        .filter(F.col("session_id").isin(*UPLIFT_ROW_ANCHORS_6DP))
        .collect()
    }
    for sid, expected in UPLIFT_ROW_ANCHORS_6DP.items():
        assert abs(got[sid] - expected) <= 1e-6, (sid, got[sid], expected)
