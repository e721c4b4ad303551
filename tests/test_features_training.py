"""Feature-generation, vectorization, and training-layer tests."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.ml import Pipeline
from pyspark.sql import functions as F

from flashml_spark.features import (
    CategoricalConcat,
    GramAssembler,
    SkipGramGenerator,
    build_ngram_stages,
)
from flashml_spark.training.estimators import build_estimator, build_label_indexer, build_param_grid
from flashml_spark.training.ovr import OneVsRestWithScores
from flashml_spark.training.platt import PlattScalar
from flashml_spark.training.postprocess import (
    hotlead_flag,
    index_to_string,
    top_k_intents,
    uplift_transform,
)
from flashml_spark.vectorization import build_assembler, build_text_vectorizer
from tests.conftest import jobs_started


def test_skipgram(spark):
    df = spark.createDataFrame([(["a", "b", "c", "d"],)], ["toks"])
    out = SkipGramGenerator(inputCol="toks", outputCol="sg", windowSize=3).transform(df).first()
    # window size 3 → gap 2: pairs (a,c), (b,d)
    assert out["sg"] == ["a & c", "b & d"]


def test_skipgram_skips_identical(spark):
    df = spark.createDataFrame([(["x", "y", "x"],)], ["toks"])
    out = SkipGramGenerator(inputCol="toks", outputCol="sg", windowSize=3).transform(df).first()
    assert out["sg"] == []  # only candidate pair is (x, x) — skipped


def test_ngram_and_assembler(spark):
    df = spark.createDataFrame([(["a", "b", "c"],)], ["toks"])
    stages = build_ngram_stages("toks", [2])
    out = stages[0].transform(df)
    out = GramAssembler(inputCols=["toks", "toks_ngram_2"], outputCol="all").transform(out)
    assert out.first()["all"] == ["a", "b", "c", "a b", "b c"]


def test_categorical_concat(spark):
    df = spark.createDataFrame([("US", 5)], ["country", "tier"])
    out = CategoricalConcat(inputCols=["country", "tier"], outputCol="cat").transform(df)
    assert out.first()["cat"] == ["country_US", "tier_5"]


def _tiny_text_df(spark, n=60):
    rows = []
    for i in range(n):
        if i % 2 == 0:
            rows.append((f"good great fine nice {i % 5}", "pos"))
        else:
            rows.append((f"bad awful poor sad {i % 5}", "neg"))
    return spark.createDataFrame(rows, ["text", "label"])


def test_vectorize_and_train_binary_lr(spark):
    df = _tiny_text_df(spark)
    tok = F.split(F.col("text"), " ")
    df = df.withColumn("toks", tok)
    stages = (
        [build_label_indexer("label")]
        + build_text_vectorizer("tfidf", "toks", "tv", slots=50)
        + [build_assembler(["tv"])]
        + [build_estimator("logistic_regression", label_col="label_indexed")]
    )
    model = Pipeline(stages=stages).fit(df)
    scored = model.transform(df)
    acc = scored.filter(F.col("prediction") == F.col("label_indexed")).count() / df.count()
    assert acc > 0.95


@pytest.mark.parametrize("method", ["hashingtf", "count_vectorizer", "word2vec"])
def test_vectorizer_methods(spark, method):
    df = _tiny_text_df(spark, 20).withColumn("toks", F.split("text", " "))
    stages = build_text_vectorizer(method, "toks", "v", slots=16)
    out = Pipeline(stages=stages).fit(df).transform(df)
    assert out.select("v").first()["v"] is not None


def test_word2vec_semantics(spark):
    """Result checks beyond fit-smoke: (1) a document vector is the MEAN of
    its word vectors (Word2VecModel.transform contract), (2) words that only
    ever share contexts embed closer than words that never co-occur."""
    import math

    corpus = []
    for i in range(80):
        # "cat"/"dog" interchangeable in identical contexts; "rock" disjoint
        animal = "cat" if i % 2 == 0 else "dog"
        corpus.append((f"the {animal} sat on the mat",))
        corpus.append(("a rock fell down the hill",))
    df = spark.createDataFrame(corpus, ["text"]).withColumn(
        "toks", F.split("text", " ")
    )
    stages = build_text_vectorizer("word2vec", "toks", "v", slots=8)
    model = Pipeline(stages=stages).fit(df)
    w2v = model.stages[-1]
    vecs = {r["word"]: list(r["vector"]) for r in w2v.getVectors().collect()}

    # (1) mean-of-word-vectors contract on a two-word doc
    doc = spark.createDataFrame([("cat rock",)], ["text"]).withColumn(
        "toks", F.split("text", " ")
    )
    got = list(model.transform(doc).first()["v"])
    want = [(a + b) / 2 for a, b in zip(vecs["cat"], vecs["rock"])]
    assert all(abs(g - w) < 1e-6 for g, w in zip(got, want))

    # (2) distributional similarity: shared contexts -> higher cosine
    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    assert cos(vecs["cat"], vecs["dog"]) > cos(vecs["cat"], vecs["rock"])


def _multiclass_df(spark, n=90):
    words = {0: "alpha beta", 1: "gamma delta", 2: "epsilon zeta"}
    rows = [(words[i % 3] + f" w{i % 7}", float(i % 3)) for i in range(n)]
    return spark.createDataFrame(rows, ["text", "label"])


def test_ovr_with_scores_and_platt(spark):
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.feature import HashingTF, Tokenizer

    df = _multiclass_df(spark)
    df = Tokenizer(inputCol="text", outputCol="toks").transform(df)
    df = HashingTF(inputCol="toks", outputCol="features", numFeatures=64).transform(df)

    ovr = OneVsRestWithScores(classifier=LinearSVC(maxIter=20), labelCol="label")
    model = ovr.fit(df)
    assert all(not m._java_obj.hasSummary() for m in model.models)
    scored = model.transform(df)
    assert len(scored.first()["rawPrediction"]) == 3
    acc = scored.filter(F.col("prediction") == F.col("label")).count() / df.count()
    assert acc > 0.95

    platt = PlattScalar(label_col="label", per_class=True).fit(scored)
    calibrated = platt.transform(scored)
    row = calibrated.first()
    assert "svm_prediction" in calibrated.columns
    probs = row["probability"]
    assert len(probs) == 3 and all(0.0 <= p <= 1.0 for p in probs)
    cal_acc = (
        calibrated.filter(F.col("prediction") == F.col("label")).count() / df.count()
    )
    assert cal_acc > 0.9


def test_platt_binary_probability_monotone(spark):
    """Calibrated probability must be monotone in the margin."""
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.feature import HashingTF, Tokenizer

    df = _tiny_text_df(spark)
    df = Tokenizer(inputCol="text", outputCol="toks").transform(df)
    df = HashingTF(inputCol="toks", outputCol="features", numFeatures=64).transform(df)
    idx = build_label_indexer("label").fit(df)
    df = idx.transform(df)
    svm = LinearSVC(maxIter=20, labelCol="label_indexed").fit(df)
    scored = svm.transform(df)
    platt = PlattScalar(label_col="label_indexed").fit(scored)
    cal = platt.transform(scored)
    from pyspark.ml.functions import vector_to_array

    rows = (
        cal.select(
            vector_to_array("rawPrediction").getItem(1).alias("m"),
            F.element_at("probability", 2).alias("p"),
        )
        .orderBy("m")
        .collect()
    )
    ps = [r["p"] for r in rows]
    assert all(b >= a - 1e-12 for a, b in zip(ps, ps[1:]))


def test_top_k_and_index_to_string(spark):
    df = spark.createDataFrame([(1, [0.2, 0.5, 0.3], 1.0)], ["id", "probability", "prediction"])
    labels = ["billing", "sales", "support"]
    out = top_k_intents(df, labels, k=2)
    top = out.first()["topKIntents"]
    assert [t["label"] for t in top] == ["sales", "support"]
    assert abs(top[0]["prob"] - 0.5) < 1e-12
    out2 = index_to_string(df, labels)
    assert out2.first()["prediction_label"] == "sales"


def test_hotlead_flag(spark):
    df = spark.createDataFrame(
        [(0.9, 1), (0.4, 1), (0.9, 99)], ["p", "page"]
    )
    out = df.withColumn(
        "hot", hotlead_flag(F.col("p"), F.col("page"), [0.5, 0.8])
    )
    # page 99 clamps to threshold[2]=0.8
    assert [r["hot"] for r in out.collect()] == [1, 0, 1]


def test_uplift_transform(spark):
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    rows = []
    for i in range(40):
        treated = float(i % 2)
        x = float(i % 5)
        label = 1.0 if (x + 3 * treated) > 3 else 0.0
        rows.append((Vectors.dense([x, treated]), label))
    df = spark.createDataFrame(rows, ["features", "label"])
    lr = LogisticRegression(maxIter=20).fit(df)
    out = uplift_transform(lr.transform(df), lr)
    row = out.first()
    assert out.filter(F.col("prediction") != 1.0).count() == 0
    assert "modelProbability" in out.columns
    d = row["probability"][1]
    assert -1.0 <= d <= 1.0
    # treatment raises the outcome → positive uplift on average
    avg_d = out.agg(F.avg(F.element_at("probability", 2))).first()[0]
    assert avg_d > 0


def test_param_grid(spark):
    est = build_estimator("logistic_regression")
    grid = build_param_grid(est, {"regParam": [0.0, 0.1], "maxIter": [10, 20]})
    assert len(grid) == 4


def test_knn_ivf_matches_brute_when_probing_all(spark):
    """IVF with n_probe == n_lists scans everything -> must equal the exact
    brute-force top-k; with fewer probes it still returns k rows."""
    from flashml_spark.operators import similarity
    from flashml_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = list(emb.filter("vec_id = 0").select("embedding").first()["embedding"])

    brute = [r["vec_id"] for r in
             similarity.knn_brute_force(emb, "embedding", "vec_id", q, k=10).collect()]
    cents = similarity.fit_ivf_centroids(emb, "embedding", n_lists=8, seed=42)
    full = [r["vec_id"] for r in
            similarity.knn_ivf(emb, "embedding", "vec_id", q, k=10,
                               centroids=cents, n_probe=8).collect()]
    assert full == brute

    probed = similarity.knn_ivf(emb, "embedding", "vec_id", q, k=10,
                                centroids=cents, n_probe=2).collect()
    assert len(probed) == 10
    # query's own list is always probed, so the query vector itself is found
    assert probed[0]["vec_id"] == 0


def test_ivf_index_at_rest_prunes_partitions(spark, tmp_path):
    """write_ivf_index + knn_ivf_indexed: same answer as the in-flight IVF
    path, and the probe filter must land as a PartitionFilter in the scan
    (whole inverted-list directories skipped, not row-filtered)."""
    from flashml_spark.operators import similarity
    from flashml_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = list(emb.filter("vec_id = 0").select("embedding").first()["embedding"])
    cents = similarity.fit_ivf_centroids(emb, "embedding", n_lists=8, seed=42)

    path = str(tmp_path / "ivf_index")
    similarity.write_ivf_index(emb, path, "embedding", cents)
    # one directory per inverted list
    import os

    parts = [d for d in os.listdir(path) if d.startswith("ivf_list=")]
    assert len(parts) == 8

    indexed = similarity.knn_ivf_indexed(
        spark, path, "embedding", "vec_id", q, cents, k=10, n_probe=2
    )
    in_flight = similarity.knn_ivf(
        emb, "embedding", "vec_id", q, k=10, centroids=cents, n_probe=2
    )
    assert [r["vec_id"] for r in indexed.collect()] == [
        r["vec_id"] for r in in_flight.collect()
    ]

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan
    # runtime proof of pruning: the file scan's numPartitions metric counts
    # partition directories actually read — 2 probed of 8, not row-filtered
    flt = spark.read.parquet(path).filter(F.col("ivf_list").isin(0, 3))
    flt.collect()
    scan = flt._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    metrics = scan.metrics()
    assert metrics.apply("numPartitions").value() == 2


def test_knn_lsh_multiprobe_recall_gate(spark):
    """Multi-probe LSH recall gate: in the near-duplicate regime LSH is for
    (planted neighbors at cosine ~0.90-0.95), 16 probes over 8 planes
    (16/256 buckets) must recover >= 0.9 of the exact brute-force top-10
    while scanning < 10% of the rows.  Reference promise: similarity.py
    knn_lsh "Hamming-adjacent probes" — this pins it with numbers."""
    import numpy as np

    from flashml_spark.operators import similarity

    rng = np.random.default_rng(7)
    n, dim = 2000, 64
    base = rng.normal(size=(n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    q = base[0].copy()
    for i in range(1, 11):
        v = q + 0.05 * rng.normal(size=dim)
        base[i] = v / np.linalg.norm(v)

    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)], "id bigint, vec array<double>"
    ).repartition(8)
    query = [float(x) for x in q]

    brute = {r["id"] for r in
             similarity.knn_brute_force(df, "vec", "id", query, k=10).collect()}
    approx = {r["id"] for r in
              similarity.knn_lsh(df, "vec", "id", query, k=10,
                                 n_planes=8, n_probes=16).collect()}
    recall = len(brute & approx) / 10
    assert recall >= 0.9, f"recall@10 = {recall}"

    # cost side of the dial: the probed buckets cover < 10% of the table
    planes = similarity.random_hyperplanes(dim, 8, seed=42)
    probes = similarity.probe_sequence(query, planes, 16)
    scanned = (
        similarity.with_lsh_bucket(df, "vec", planes)
        .filter(F.col("bucket").isin(*probes))
        .count()
    )
    assert scanned / n < 0.10, f"scanned fraction {scanned / n}"


def test_probe_sequence_properties():
    """First probe is the query's own bucket; probes are unique; margin
    ordering means flipping the single lowest-|dot| bit comes second."""
    from flashml_spark.operators.similarity import probe_sequence, random_hyperplanes

    dim = 16
    planes = random_hyperplanes(dim, 6, seed=3)
    qv = [0.1 * (i - 7) for i in range(dim)]
    probes = probe_sequence(qv, planes, 12)
    assert len(probes) == 12 and len(set(probes)) == 12
    dots = [sum(a * b for a, b in zip(qv, p)) for p in planes]
    base = sum(1 << b for b, d in enumerate(dots) if d > 0)
    assert probes[0] == base
    weakest = min(range(6), key=lambda b: abs(dots[b]))
    assert probes[1] == base ^ (1 << weakest)
    # n_probes beyond 2**n_planes just returns every bucket once
    assert len(probe_sequence(qv, planes, 100)) == 64


def test_feature_transformers_roundtrip(spark, tmp_path):
    """Custom feature transformers must be MLWritable so full pipelines
    persist (SURVEY §7 'what's hard')."""
    from pyspark.ml import Pipeline, PipelineModel

    from flashml_spark.features.generators import (
        CategoricalConcat,
        GramAssembler,
        SkipGramGenerator,
    )

    df = spark.createDataFrame(
        [(["a", "b", "c", "d"], "x", "y")], ["toks", "c1", "c2"]
    )
    pipe = Pipeline(stages=[
        SkipGramGenerator(inputCol="toks", outputCol="sg", windowSize=4),
        GramAssembler(inputCols=["toks", "sg"], outputCol="assembled"),
        CategoricalConcat(inputCols=["c1", "c2"], outputCol="cats"),
    ]).fit(df)
    before = pipe.transform(df).first()

    path = str(tmp_path / "feat_pipe")
    pipe.write().overwrite().save(path)
    after = PipelineModel.load(path).transform(df).first()
    assert before["assembled"] == after["assembled"]
    assert before["cats"] == after["cats"] == ["c1_x", "c2_y"]
    assert "a & c" in after["sg"] and "a & d" in after["sg"]


def test_stratified_split_approx(spark):
    """Zero-shuffle stratified split keeps per-class fractions ~equal and
    partitions the data exactly (train + test == all, disjoint)."""
    from flashml_spark.operators.sampling import stratified_split_approx

    df = spark.createDataFrame(
        [(i, "pos" if i % 10 == 0 else "neg") for i in range(5000)], "id int, y string"
    )
    train, test = stratified_split_approx(df, "y", 0.8, seed=20)
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 5000
    assert train.join(test, "id").count() == 0
    pos_frac = train.filter("y = 'pos'").count() / 500
    neg_frac = train.filter("y = 'neg'").count() / 4500
    assert abs(pos_frac - 0.8) < 0.06 and abs(neg_frac - 0.8) < 0.03


def test_connected_components_and_minhash_dedup(spark):
    from flashml_spark.operators.dedup import connected_components, minhash_dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "an entirely different document about spark engines"),
            (4, "another unrelated text mentioning parquet files"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in minhash_dedup(docs, "text", "doc_id").collect())
    assert kept == [1, 3, 4]


def test_tfidf_values_match_formula(spark):
    """Spark IDF formula: ln((N+1)/(df+1)); TF = raw term count."""
    import math

    from pyspark.ml import Pipeline
    from pyspark.ml.functions import vector_to_array

    from flashml_spark.vectorization import build_text_vectorizer

    docs = spark.createDataFrame(
        [(0, ["a", "b", "a"]), (1, ["a", "c"]), (2, ["c", "c", "c"])], ["i", "toks"]
    )
    stages = build_text_vectorizer("tfidf", "toks", "vec", slots=10)
    model = Pipeline(stages=stages).fit(docs)
    cv_model = model.stages[0]
    vocab = list(cv_model.vocabulary)
    out = {
        r["i"]: r["arr"]
        for r in model.transform(docs).select(
            "i", vector_to_array("vec").alias("arr")
        ).collect()
    }
    n = 3
    df_counts = {"a": 2, "b": 1, "c": 2}
    tf_doc0 = {"a": 2.0, "b": 1.0, "c": 0.0}
    for term, tf in tf_doc0.items():
        idf = math.log((n + 1) / (df_counts[term] + 1))
        assert abs(out[0][vocab.index(term)] - tf * idf) < 1e-9


@pytest.mark.parametrize(
    "algorithm",
    [
        "logistic_regression", "svm", "naive_bayes", "random_forest",
        "gradient_boosted_trees", "decision_tree", "multilayer_perceptron",
    ],
)
def test_all_estimators_fit_and_score(spark, algorithm):
    """Every supported algorithm fits on a vectorized frame and scores
    with a prediction column (§2.9 parity)."""
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    from flashml_spark.training.estimators import build_estimator

    rows = [
        ("buy now great deal" if i % 2 == 0 else "just browsing around", float(i % 2))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["text", "label"])
    tok = RegexTokenizer(inputCol="text", outputCol="toks", pattern=r"\s+")
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=32)
    vec = tf.transform(tok.transform(df))

    params = {"maxIter": 5} if algorithm in (
        "logistic_regression", "svm", "gradient_boosted_trees", "multilayer_perceptron"
    ) else {}
    est = build_estimator(algorithm, params=params, train_df=vec)
    scored = est.fit(vec).transform(vec)
    assert "prediction" in scored.columns
    acc = scored.filter("prediction = label").count() / 80
    assert acc > 0.9  # linearly separable toy corpus


def test_minhash_short_docs_never_pair(spark):
    """Docs with fewer than shingle_n tokens have NULL minhash components;
    band keys must go NULL (SQL '||' semantics) and drop out of bucketing —
    NOT collapse onto shared keys that pair every short doc (ADVICE r1)."""
    from flashml_spark.operators.dedup import minhash_dedup, minhash_lsh_candidates

    docs = spark.createDataFrame(
        [
            (1, "x"),            # 1 token < shingle_n=2 -> empty shingles
            (2, "y"),            # ditto; must NOT pair with 1
            (3, ""),             # empty doc
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_candidates(docs, "text", "doc_id").collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(4, 5)}
    kept = sorted(r["doc_id"] for r in minhash_dedup(docs, "text", "doc_id").collect())
    assert kept == [1, 2, 3, 4]


def test_connected_components_raises_on_iteration_cap(spark):
    """Exiting via the iteration cap means unconverged (wrong) labels —
    must raise, not return silently (ADVICE r1)."""
    import pytest

    from flashml_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a long, id_b long"
    )
    # driver_edge_budget=0 pins the DISTRIBUTED loop (the driver path has
    # no iteration cap — it always runs to its exact fixpoint)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2, driver_edge_budget=0)
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            chain, max_iterations=20, driver_edge_budget=0
        ).collect()
    }
    assert set(comp.values()) == {1}


def test_connected_components_driver_matches_distributed(spark):
    """The bounded driver-side union-find (r11) must return EXACTLY the
    distributed loop's rows: same vertices, same min-id components —
    across long ids, string ids, chains, self-loops and singletons-via-
    self-pair."""
    from flashml_spark.operators.dedup import connected_components

    cases = [
        (
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (7, 7)],
            "id_a long, id_b long",
        ),
        (
            [(i, i + 1) for i in range(1, 30)],  # deep chain (doubling path)
            "id_a long, id_b long",
        ),
        (
            [("b", "c"), ("a", "b"), ("x", "y"), ("m", "m")],
            "id_a string, id_b string",
        ),
    ]
    for rows, schema in cases:
        pairs = spark.createDataFrame(rows, schema)
        drv = {
            (r["id"], r["component"])
            for r in connected_components(pairs).collect()
        }
        dist = {
            (r["id"], r["component"])
            for r in connected_components(
                pairs, max_iterations=40, driver_edge_budget=0
            ).collect()
        }
        assert drv == dist and drv


def test_split_page_level_clamps_low_pages(spark):
    """Rows with page <= 0 fold into the FIRST page model (mirroring the
    high-side clamp) — the splits must partition the input exactly."""
    from flashml_spark.operators.relational import split_page_level

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate([-1, 0, 1, 1, 2, 3, 4, 7])], "id int, page int"
    )
    splits = split_page_level(df, "page", 4)
    counts = [s.count() for s in splits]
    assert counts == [4, 1, 1, 2]  # {-1,0,1,1}, {2}, {3}, {4,7}
    assert sum(counts) == df.count()
    from functools import reduce

    union = reduce(lambda a, b: a.unionAll(b), splits)
    assert union.select("id").distinct().count() == 8


def test_multiclass_metrics_empty_frame(spark):
    """Empty scored frame yields zeroed metrics, not ZeroDivisionError."""
    from flashml_spark.metrics.multiclass import multiclass_metrics

    empty = spark.createDataFrame([], "label double, prediction double")
    m = multiclass_metrics(empty)
    assert m["accuracy"] == 0.0 and m["weightedF1"] == 0.0 and m["perClass"] == {}


def _margin_rows(n_classes: int, n: int = 400, seed: int = 5, labels=None):
    """Deterministic noisy margins: ``(label, per-class margins)`` rows
    whose own-class margin sits higher; ``labels`` overrides the i % k
    labels."""
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        label = float(labels[i] if labels is not None else i % n_classes)
        scores = [rnd.gauss(1.2 if k == label else -0.8, 1.0) for k in range(n_classes)]
        rows.append((label, scores))
    return rows


def _ovr_scored(spark, rows):
    """A one-vs-rest model's scored frame: class k's margin in
    ``rawPrediction[k]``."""
    from pyspark.ml.linalg import Vectors

    return spark.createDataFrame(
        [(label, Vectors.dense(s)) for label, s in rows], ["label", "rawPrediction"]
    )


def _binary_scored(spark, rows):
    """A binary model's scored frame: class 1's margin m in
    ``rawPrediction = [-m, m]``."""
    from pyspark.ml.linalg import Vectors

    return spark.createDataFrame(
        [(label, Vectors.dense([-s[1], s[1]])) for label, s in rows],
        ["label", "rawPrediction"],
    )


def _class_margins(rows, k: int, binary: bool) -> tuple[np.ndarray, np.ndarray]:
    """Class ``k``'s margins and 0/1 targets, as the calibrator sees them."""
    m = np.array([s[1] if binary else s[k] for _, s in rows])
    y = np.array([1.0 if label == (1.0 if binary else k) else 0.0 for label, _ in rows])
    return m, y


def _weighted_lr_reference(spark, m: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    """Platt's fractional-label fit as duplicated weighted rows through a
    stock ``LogisticRegression(weightCol)``: a row with target t is a
    (label 1, weight t) row plus a (label 0, weight 1 - t) row."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    n_pos = int(y.sum())
    n_neg = len(y) - n_pos
    t_pos, t_neg = (n_pos + 1.0) / (n_pos + 2.0), 1.0 / (n_neg + 2.0)
    rows = []
    for mi, yi in zip(m.tolist(), y.tolist()):
        t = t_pos if yi == 1.0 else t_neg
        rows += [(Vectors.dense([mi]), 1.0, t), (Vectors.dense([mi]), 0.0, 1.0 - t)]
    doubled = spark.createDataFrame(rows, ["f", "y", "w"])
    lr = LogisticRegression(
        featuresCol="f", labelCol="y", weightCol="w", tol=1e-10, regParam=0.0, maxIter=200
    ).fit(doubled)
    return float(lr.coefficients[0]), float(lr.intercept)


def _platt_gradient(a: float, b: float, m: np.ndarray, y: np.ndarray) -> np.ndarray:
    n_pos = y.sum()
    t = np.where(y == 1.0, (n_pos + 1.0) / (n_pos + 2.0), 1.0 / (len(y) - n_pos + 2.0))
    r = 1.0 / (1.0 + np.exp(-(a * m + b))) - t
    return np.array([np.dot(r, m), r.sum()])


@pytest.mark.parametrize("binary", [True, False], ids=["binary", "ovr4"])
def test_platt_newton_matches_weighted_lr_and_zeroes_the_gradient(spark, binary):
    """The grouped Newton solve reaches the optimum of the weighted-row
    LogisticRegression formulation (same objective, so the same MLE), and
    Platt's gradient at its (A, B) is zero to 1e-8 per row."""
    rows = _margin_rows(2 if binary else 4)
    scored = _binary_scored(spark, rows) if binary else _ovr_scored(spark, rows)
    sigmoids = PlattScalar(label_col="label", per_class=not binary).fit(scored).sigmoids
    assert len(sigmoids) == (1 if binary else 4)
    for k, (a, b) in enumerate(sigmoids):
        m, y = _class_margins(rows, k, binary)
        ref_a, ref_b = _weighted_lr_reference(spark, m, y)
        assert a == pytest.approx(ref_a, rel=1e-5)
        assert b == pytest.approx(ref_b, rel=1e-5)
        assert np.abs(_platt_gradient(a, b, m, y)).max() <= 1e-8 * len(m)


def test_platt_fit_is_partition_invariant_and_one_query(spark):
    """The same scored frame in 1, 3 or 8 partitions gives bit-identical
    coefficients, and a 4-class fit starts at most 2 Spark jobs (the
    per-class LogisticRegression fits it replaces started dozens)."""
    scored = _ovr_scored(spark, _margin_rows(4, n=600, seed=9))
    platt = PlattScalar(label_col="label", per_class=True)
    fits = {n: platt.fit(scored.repartition(n)).sigmoids for n in (1, 3, 8)}
    assert fits[1] == fits[3] == fits[8]
    cached = scored.repartition(3).cache()
    cached.count()
    try:
        assert jobs_started(spark, lambda: platt.fit(cached)) <= 2
    finally:
        cached.unpersist()


@pytest.mark.parametrize("binary", [True, False], ids=["binary", "ovr"])
def test_platt_fit_rejects_empty_and_non_finite_margins(spark, binary):
    rows = _margin_rows(2, n=40)
    make = _binary_scored if binary else _ovr_scored
    platt = PlattScalar(label_col="label", per_class=not binary)
    empty = make(spark, rows).limit(0)
    with pytest.raises(ValueError, match="at least one scored row"):
        platt.fit(empty)
    for bad in (math.nan, math.inf):
        broken = [(label, [s[0], bad if i == 7 else s[1]]) for i, (label, s) in enumerate(rows)]
        with pytest.raises(ValueError, match="non-finite margin"):
            platt.fit(make(spark, broken))


@pytest.mark.parametrize("binary", [True, False], ids=["binary", "ovr"])
def test_platt_fit_one_sided_classes_get_finite_coefficients(spark, binary):
    """A class with no positive rows, and one with only positive rows,
    still get finite A and B: Platt's smoothed targets keep the optimum
    finite (all-equal targets t give A = 0, B = logit(t))."""
    make = _binary_scored if binary else _ovr_scored
    platt = PlattScalar(label_col="label", per_class=not binary)
    for label in (0, 1):
        rows = _margin_rows(2, n=50, labels=[label] * 50)
        sigmoids = platt.fit(make(spark, rows)).sigmoids
        for k, (a, b) in enumerate(sigmoids):
            assert math.isfinite(a) and math.isfinite(b)
            m, y = _class_margins(rows, k, binary)
            assert np.abs(_platt_gradient(a, b, m, y)).max() <= 1e-8 * len(m)


def test_plain_fit_path_strips_training_summary(spark):
    """Regression (caught live in round 5): the non-tuned fit path kept
    the LR trainingSummary, whose SparkSession reference made every
    scoring-task closure serialize the session — which breaks as soon as
    anything non-serializable attaches to it (Spark 4.1's
    ObservationManager after the first DataFrame.observe).  Every fit
    path (plain / OVR / CV / HyperBand / Platt) must strip the summary."""
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    from flashml_spark.experiment import Experiment, ExperimentConfig

    rows = [
        ("buy now great deal" if i % 2 == 0 else "just browsing", float(i % 2))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["text", "label"])
    tok = RegexTokenizer(inputCol="text", outputCol="toks", pattern=r"\s+")
    vec = HashingTF(inputCol="toks", outputCol="features", numFeatures=16).transform(
        tok.transform(df)
    )
    exp = Experiment(ExperimentConfig(response="label"))
    model, _ = exp._fit_model(vec, label_col="label", page=0)
    assert not model._java_obj.hasSummary()
