"""Tuning (CV / HyperBand) and metrics-engine tests."""

from __future__ import annotations

import math

import pytest
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.linalg import Vectors
from pyspark.sql import functions as F

from flashml_spark.metrics.binary import auroc, best_fbeta_threshold, threshold_sweep
from flashml_spark.metrics.hotlead import hotlead_simulation
from flashml_spark.metrics.multiclass import confusion_matrix, multiclass_metrics
from flashml_spark.metrics.stability import empty_psi_buckets, psi, vsi
from flashml_spark.tuning.cv import CrossValidatorWithFoldMetrics
from flashml_spark.tuning.generators import ParamSpace, random_param_sets
from flashml_spark.tuning.hyperband import HyperBand


def _binary_scored(spark):
    # (score, label): clean separation except two noisy rows
    rows = [
        (0.9, 1.0), (0.8, 1.0), (0.7, 1.0), (0.65, 0.0),
        (0.6, 1.0), (0.4, 0.0), (0.35, 1.0), (0.3, 0.0),
        (0.2, 0.0), (0.1, 0.0),
    ]
    return spark.createDataFrame(rows, ["positive_probability", "label"])


def test_threshold_sweep_counts(spark):
    sweep = threshold_sweep(_binary_scored(spark)).orderBy(F.desc("thresh")).collect()
    top = sweep[0]
    assert top["thresh"] == 0.9 and top["tp"] == 1 and top["fp"] == 0
    bottom = sweep[-1]
    assert bottom["tp"] == 5 and bottom["fp"] == 5  # everything predicted positive
    assert bottom["recall"] == 1.0


def test_best_fbeta(spark):
    best = best_fbeta_threshold(_binary_scored(spark))
    assert 0.0 < best["threshold"] <= 0.9
    assert best["fbeta"] >= 0.8


def test_auroc_reference_value(spark):
    """Cross-check the rank-sum AUROC against sklearn-style manual calc."""
    df = _binary_scored(spark)
    # manual Mann-Whitney: pairs (pos, neg) where pos_score > neg_score
    rows = df.collect()
    pos = [r[0] for r in rows if r[1] == 1.0]
    neg = [r[0] for r in rows if r[1] == 0.0]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    expected = wins / (len(pos) * len(neg))
    assert abs(auroc(df) - expected) < 1e-12


def test_auroc_perfect_and_random(spark):
    perfect = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 1.0), (0.2, 0.0), (0.1, 0.0)],
        ["positive_probability", "label"],
    )
    assert auroc(perfect) == 1.0
    ties = spark.createDataFrame(
        [(0.5, 1.0), (0.5, 0.0)], ["positive_probability", "label"]
    )
    assert abs(auroc(ties) - 0.5) < 1e-12


def test_multiclass_metrics(spark):
    rows = [
        (0.0, 0.0), (0.0, 0.0), (0.0, 1.0),
        (1.0, 1.0), (1.0, 1.0), (1.0, 0.0),
        (2.0, 2.0), (2.0, 2.0), (2.0, 2.0),
    ]
    df = spark.createDataFrame(rows, ["label", "prediction"])
    m = multiclass_metrics(df)
    assert abs(m["accuracy"] - 7 / 9) < 1e-12
    assert abs(m["perClass"][2.0]["precision"] - 1.0) < 1e-12
    assert abs(m["perClass"][0.0]["recall"] - 2 / 3) < 1e-12
    # cross-check weighted metrics against Spark's evaluator
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    for ours, theirs in [
        ("weightedPrecision", "weightedPrecision"),
        ("weightedRecall", "weightedRecall"),
        ("weightedF1", "f1"),
    ]:
        ev = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName=theirs
        )
        assert abs(m[ours] - ev.evaluate(df)) < 1e-9

    cm = confusion_matrix(df).collect()
    assert {(r["label"], r["pred"]): r["n"] for r in cm}[(0.0, 0.0)] == 2


def test_hotlead_simulation(spark):
    rows = [
        # visitor, page, prob, response
        ("v1", 1, 0.9, 1), ("v1", 2, 0.2, 1),
        ("v2", 1, 0.3, 0), ("v2", 2, 0.85, 0),
        ("v3", 1, 0.1, 0), ("v3", 2, 0.2, 0),
        ("v4", 5, 0.99, 1),  # overflow page folds into page 2
    ]
    df = spark.createDataFrame(rows, ["vid", "page", "prob", "response"])
    out = hotlead_simulation(
        df, ["vid"], "page", F.col("prob"), "response", [0.5, 0.8], num_pages=2
    )
    assert out["visitors"] == 4
    assert out["hotleadVisitors"] == 3  # v1 (page1), v2 (page2), v4 (folded)
    assert out["capturedPositives"] == 2  # v1 and v4 converted
    per_page = {r["hotleadPage"]: r for r in out["perPage"].collect()}
    assert per_page[1]["hotleads"] == 1 and per_page[2]["hotleads"] == 2


def test_psi_identical_is_zero(spark):
    df = spark.range(1000).select((F.col("id") % 100 / 100.0).alias("score"))
    assert abs(psi(df, df, "score")) < 1e-9


def test_psi_shifted_positive(spark):
    base = spark.range(1000).select((F.rand(1)).alias("score"))
    new = spark.range(1000).select((F.rand(2) * 0.5).alias("score"))
    assert psi(base, new, "score") > 10.0


def test_psi_each_side_over_its_own_rows(spark):
    """The new population moves wholly into 5 of the base's 10 deciles, at
    twice their base share.  Each side's shares are over its own rows, so
    the 5 shared buckets each add (0.2 - 0.1)·ln(0.2/0.1)·100; the 5 empty
    ones add nothing.  Renormalizing over the shared buckets only would
    read 0 here."""
    # base deciles split near 0.1·k - 0.001; new values sit mid-decile
    base = spark.range(1000).select((F.col("id") / 1000.0).alias("score"))
    new = spark.range(1000).select(
        (F.lit(0.45) + F.col("id") % 5 / 10.0).alias("score")
    )
    assert psi(base, new, "score") == pytest.approx(
        5 * (0.2 - 0.1) * math.log(0.2 / 0.1) * 100, abs=1e-6
    )
    assert empty_psi_buckets(base, new, "score") == [0, 1, 2, 3, 9]


def test_vsi(spark):
    base = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, ["v"])
    new = spark.createDataFrame([("a",)] * 80 + [("b",)] * 20 + [("c",)] * 5, ["v"])
    out = vsi(base, new, "v")
    assert out["vsi"] > 0.0
    assert out["newValues"] == ["c"] and out["missingValues"] == []
    assert out["newTruncated"] is False and out["missingTruncated"] is False


def test_vsi_counts_null_as_a_value(spark):
    """NULL is one more category: base 1/2 "a" 1/2 NULL, new 5/6 "a" 1/6
    NULL, so VSI = 100·[(5/6 - 1/2)·ln(5/3) + (1/6 - 1/2)·ln(1/3)]."""
    base = spark.createDataFrame([("a",)] * 50 + [(None,)] * 50, "v string")
    new = spark.createDataFrame([("a",)] * 50 + [(None,)] * 10, "v string")
    out = vsi(base, new, "v")
    expected = 100 * (math.log(5 / 3) / 3 + math.log(3) / 3)
    assert out["vsi"] == pytest.approx(expected, abs=1e-5)  # 53.64793
    assert out["missingValues"] == [] and out["newValues"] == []
    assert vsi(base, base, "v")["vsi"] == 0.0


def test_vsi_report_capped_for_high_cardinality(spark):
    """A variable mistakenly declared categorical (id-like) must not ship
    its whole domain to the driver: reports cap at max_reported_values with
    a truncation flag, VSI value itself unaffected."""
    base = spark.range(500).selectExpr("concat('u', id) AS v")
    new = spark.range(400, 900).selectExpr("concat('u', id) AS v")
    out = vsi(base, new, "v", max_reported_values=50)
    assert len(out["missingValues"]) == 50 and out["missingTruncated"] is True
    assert len(out["newValues"]) == 50 and out["newTruncated"] is True


def test_random_param_sets_deterministic():
    space = ParamSpace().add_range("regParam", 0.0, 1.0).add_choices("maxIter", [10, 20])
    a = random_param_sets(space, 5, seed=7)
    b = random_param_sets(space, 5, seed=7)
    assert a == b
    assert all(0.0 <= p["regParam"] <= 1.0 and p["maxIter"] in (10, 20) for p in a)


def _lr_data(spark, n=120):
    rows = []
    for i in range(n):
        x = float(i % 10)
        label = 1.0 if x > 4.5 else 0.0
        rows.append((Vectors.dense([x, float(i % 3)]), label))
    return spark.createDataFrame(rows, ["features", "label"])


def test_cross_validator_fold_metrics(spark):
    df = _lr_data(spark)
    cv = CrossValidatorWithFoldMetrics(
        LogisticRegression(maxIter=20),
        param_maps=[{"regParam": 0.0}, {"regParam": 10.0}],
        num_folds=3,
        parallelism=2,
    )
    model = cv.fit(df)
    assert len(cv.fold_metrics_) == 6  # 2 params × 3 folds
    assert all(set(f) >= {"accuracy", "weightedPrecision", "fold", "param_index"}
               for f in cv.fold_metrics_)
    # unregularized LR must beat the absurdly regularized one
    assert cv.best_params_ == {"regParam": 0.0}
    scored = model.transform(df)
    acc = scored.filter(F.col("prediction") == F.col("label")).count() / df.count()
    assert acc == 1.0


def test_hyperband_small(spark):
    df = _lr_data(spark)
    hb = HyperBand(
        LogisticRegression(),
        ParamSpace().add_range("regParam", 0.0, 0.1),
        max_hyperband_iter=9,
        eta=3,
        iteration_multiplier=2,
        max_iterations_final_model=20,
        parallelism=2,
    )
    model = hb.fit(df)
    assert hb.best_params_ is not None
    assert len(hb.history_) > 0
    acc = (
        model.transform(df).filter(F.col("prediction") == F.col("label")).count()
        / df.count()
    )
    assert acc == 1.0


def test_hyperband_fit_executes_schedule(spark):
    """The fit loop must run exactly the budget table schedule() declares:
    per (bracket, rung), history rows == n_configs and iters == spark_iters."""
    df = _lr_data(spark)
    hb = HyperBand(
        LogisticRegression(),
        ParamSpace().add_range("regParam", 0.0, 0.1),
        max_hyperband_iter=4,
        eta=2,
        iteration_multiplier=2,
        max_iterations_final_model=10,
        parallelism=2,
    )
    hb.fit(df)
    ran = {}
    for h in hb.history_:
        key = (h["bracket"], h["rung"])
        ran.setdefault(key, {"n": 0, "iters": h["iters"]})
        ran[key]["n"] += 1
    for row in hb.schedule():
        key = (row["bracket"], row["rung"])
        assert ran[key]["n"] == row["n_configs"], key
        assert ran[key]["iters"] == row["spark_iters"], key
    assert len(ran) == len(hb.schedule())


def test_with_params_sets_a_copy(spark):
    """The one param setter the tuners share: a param map plus maxIter on
    a copy; estimators without maxIter ignore it; OVR passes both to its
    classifier, so every per-class fit gets them."""
    from pyspark.ml.classification import NaiveBayes

    from flashml_spark.training.estimators import with_params
    from flashml_spark.training.ovr import OneVsRestWithScores

    lr = LogisticRegression(regParam=0.0, maxIter=100)
    tuned = with_params(lr, {"regParam": 0.3}, max_iter=7)
    assert tuned is not lr
    assert (tuned.getRegParam(), tuned.getMaxIter()) == (0.3, 7)
    assert (lr.getRegParam(), lr.getMaxIter()) == (0.0, 100)
    assert with_params(lr, {"regParam": 0.3}).getMaxIter() == 100

    nb = with_params(NaiveBayes(), {"smoothing": 2.0}, max_iter=7)
    assert nb.getSmoothing() == 2.0 and not nb.hasParam("maxIter")

    ovr = OneVsRestWithScores(classifier=LogisticRegression(maxIter=100))
    tuned = with_params(ovr, {"regParam": 0.3}, max_iter=7)
    assert isinstance(tuned, OneVsRestWithScores) and tuned is not ovr
    assert ovr.getClassifier().getMaxIter() == 100
    rows = [(Vectors.dense([float(i % 3 == c) for c in range(3)]), float(i % 3))
            for i in range(30)]
    model = tuned.fit(spark.createDataFrame(rows, ["features", "label"]))
    assert len(model.models) == 3
    assert all((m.getRegParam(), m.getMaxIter()) == (0.3, 7) for m in model.models)


@pytest.mark.parametrize("tuner", ["cv", "hyperband"])
def test_tuner_frees_its_cache_when_a_fit_raises(spark, tuner):
    """A param the estimator lacks makes ``with_params`` raise inside the
    tuner's pool; the frames the tuner cached are freed all the same."""
    df = _lr_data(spark)
    est = LogisticRegression(maxIter=5)
    if tuner == "cv":
        t = CrossValidatorWithFoldMetrics(est, [{"noSuchParam": 1.0}], parallelism=2)
    else:
        t = HyperBand(est, ParamSpace().add_choices("noSuchParam", [1.0]),
                      max_hyperband_iter=3, parallelism=2)
    pinned = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="noSuchParam"):
        t.fit(df)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == pinned


def test_hyperband_schedule_parity_reference_defaults():
    """Bracket/rung budget table at the reference defaults (maxHyperbandIter=81,
    eta=3, iterationMultiplier=20) must match HyperBand.scala:200-235's
    arithmetic, including the all-integer config-count division
    (n = (B/maxIter/(s+1)).toInt * eta^s -> widths 81/27/9/6/5, NOT the
    paper's ceil form 81/34/15/8/5)."""
    hb = HyperBand(LogisticRegression(), ParamSpace().add_range("regParam", 0.0, 0.1))
    sched = hb.schedule()

    first_rungs = {r["bracket"]: r for r in sched if r["rung"] == 0}
    assert [first_rungs[s]["n_configs"] for s in (4, 3, 2, 1, 0)] == [81, 27, 9, 6, 5]

    # successive halving within each bracket: configs /eta, iterations *eta
    for s in (4, 3, 2, 1, 0):
        rungs = [r for r in sched if r["bracket"] == s]
        assert len(rungs) == s + 1
        for i, r in enumerate(rungs):
            assert r["n_configs"] == first_rungs[s]["n_configs"] // (3 ** i)
            assert r["r_i"] == 81 * 3.0 ** (i - s)
            assert r["spark_iters"] == int(r["r_i"] * 20)

    # deepest bracket end-to-end: 81 configs @20 spark-iters down to 1 @1620
    s4 = [(r["n_configs"], r["spark_iters"]) for r in sched if r["bracket"] == 4]
    assert s4 == [(81, 20), (27, 60), (9, 180), (3, 540), (1, 1620)]


def test_psi_by_page_and_vsi_for_variables(spark):
    from flashml_spark.metrics.stability import psi_by_page, vsi_for_variables

    rows = [(1 + i % 3, (i % 100) / 100.0, "a" if i % 2 == 0 else "b") for i in range(600)]
    base = spark.createDataFrame(rows, "page int, score double, dev string")
    new = base  # identical distributions -> PSI/VSI ~ 0 per page/variable
    by_page = psi_by_page(base, new, "score", "page", 3, parallelism=3)
    assert set(by_page) == {1, 2, 3}
    assert all(abs(v) < 1e-9 for v in by_page.values())

    shifted = base.withColumn("dev", F.lit("c"))
    out = vsi_for_variables(base, shifted, ["dev"], parallelism=2)
    assert out["dev"]["missingValues"] == ["a", "b"]
    assert out["dev"]["newValues"] == ["c"]


def test_psi_vsi_concurrent_failure_surfaces(spark):
    """A failing page/variable inside the driver-concurrent loops must
    raise, not silently drop a row from the report — a partial health
    report that LOOKS complete is worse than an error."""
    from flashml_spark.metrics.stability import psi_by_page, vsi_for_variables

    rows = [(1 + i % 3, (i % 100) / 100.0, "a") for i in range(60)]
    base = spark.createDataFrame(rows, "page int, score double, dev string")

    with pytest.raises(Exception):
        psi_by_page(base, base, "no_such_score_col", "page", 3, parallelism=3)

    # one good variable + one bad: the good one must not mask the failure
    with pytest.raises(Exception):
        vsi_for_variables(base, base, ["dev", "no_such_var"], parallelism=2)


def test_global_cumsum_matches_single_window(spark):
    """Distributed prefix sums == the naive single-partition window."""
    from pyspark.sql import Window

    from flashml_spark.functions.windows import global_cumsum

    df = spark.createDataFrame(
        [(float(i % 37) + (i % 3) * 0.1, i % 5) for i in range(500)], "k double, v int"
    ).groupBy("k").agg(F.sum("v").alias("v"))

    got = {
        r["k"]: r["cum_v"]
        for r in global_cumsum(df, "k", ["v"], ascending=True, num_partitions=7).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r["k"]: r["cum"] for r in df.select("k", F.sum("v").over(w).alias("cum")).collect()}
    assert got == want

    got_d = {
        r["k"]: r["cum_v"]
        for r in global_cumsum(df, "k", ["v"], ascending=False, num_partitions=7).collect()
    }
    wd = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want_d = {r["k"]: r["cum"] for r in df.select("k", F.sum("v").over(wd).alias("cum")).collect()}
    assert got_d == want_d


def test_salted_aggregations_match_plain(spark):
    from flashml_spark.functions.skew import salted_collect_set, salted_count_distinct

    # key "hot" is 100x heavier than the rest — the shape salting targets
    rows = [("hot", i % 97) for i in range(3000)] + [
        (f"k{i % 7}", i % 13) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, v int")

    got = {
        r["k"]: r["n_distinct_v"]
        for r in salted_count_distinct(df, ["k"], "v", n_salts=8).collect()
    }
    want = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == want

    got_sets = {
        r["k"]: list(r["v_set"])
        for r in salted_collect_set(df, ["k"], "v", n_salts=8).collect()
    }
    want_sets = {
        r["k"]: sorted(r["s"])
        for r in df.groupBy("k").agg(F.collect_set("v").alias("s")).collect()
    }
    assert got_sets == want_sets


def test_salted_join_matches_plain(spark):
    from flashml_spark.functions.skew import salted_join_keys

    big = spark.createDataFrame(
        [("hot", i) for i in range(2000)] + [(f"k{i}", i) for i in range(50)],
        "k string, payload int",
    )
    small = spark.createDataFrame([("hot", 1), ("k7", 2), ("k9", 3)], "k string, dim int")
    b, s, keys = salted_join_keys(big, small, "k", n_salts=4)
    got = b.join(s, ["k", "__salt"]).groupBy("k").count().collect()
    want = big.join(small, "k").groupBy("k").count().collect()
    assert {(r["k"], r["count"]) for r in got} == {(r["k"], r["count"]) for r in want}


def test_write_bucketed_roundtrip(spark, tmp_path):
    from flashml_spark.sources.savepoint import write_bucketed

    # warehouse dir is a static conf — use the session default; managed
    # table files are removed by the DROP TABLE below
    df = spark.createDataFrame([(i % 10, i) for i in range(100)], "k int, v int")
    write_bucketed(df, "bucketed_t", ["k"], num_buckets=4, sort_cols=["v"])
    back = spark.table("bucketed_t")
    assert back.count() == 100
    # bucket metadata recorded on the table
    desc = spark.sql("DESCRIBE EXTENDED bucketed_t").collect()
    info = {r["col_name"]: r["data_type"] for r in desc}
    assert "Num Buckets" in info and info["Num Buckets"].strip() == "4"
    spark.sql("DROP TABLE bucketed_t")
