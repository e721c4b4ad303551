"""Model-based document quality classification — the GPT-3/LLaMA
filtering recipe (Brown et al. 2020 Appendix A; Touvron et al. 2023
§2.1): train a linear classifier to separate a high-quality reference
corpus (Wikipedia/books-style "positives") from raw crawl
("negatives") on hashed token features, then score every crawl
document and keep the high-scoring mass.  This composes the engine's
§2 ML stack (HashingTF features, LogisticRegression, the reference's
seed-999 trainer convention — cf. ``training/estimators.py``) with
the LLM-pipeline curation surface (the heuristic siblings: Gopher
rules x223, CCNet perplexity buckets x281, DSIR x224).

Two halves, matched exactly:

* **Fit** (bounded): ``fit_quality_classifier`` tokenizes with the
  engine tokenizer (``H.tokens`` — lower+trim+ASCII-``\\s`` split),
  hashes with spark.ml ``HashingTF`` (murmur3 seed 42, binary=False
  term counts) and fits ``LogisticRegression`` on a hard-capped
  sample per side — at 100 TB the iterative fit never sees the full
  corpus; the model is ~``n_features`` doubles.

* **Score** (pure map): ``score_quality_model`` applies the model
  MAP-SIDE with the coefficient vector broadcast to executors — one
  Arrow-batched pandas_udf computing ``sigmoid(b + Σ_t w[h(t)])``
  per document, where the Python tokenizer
  (:func:`~flashml_spark.functions.hashing.py_tokens`) and bucket
  hash (:func:`~flashml_spark.functions.hashing.hashing_tf_index`)
  are LITERAL mirrors of the training-side Spark expressions (each
  pinned by its own parity test, and the whole scorer pinned
  probability-equal to ``model.transform`` by
  ``test_quality_scorer_matches_ml_transform``).  No shuffle, no
  join: the 100 TB score pass is a single scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flashml_spark.functions import hashing as H


def fit_quality_classifier(
    positive_df: DataFrame,
    negative_df: DataFrame,
    text_col: str,
    n_features: int = 1 << 15,
    max_iter: int = 50,
    reg_param: float = 0.0,
    fit_sample_rows: int | None = 100_000,
    seed: int = 999,
) -> dict:
    """Fit the quality LR on hashed token counts; returns a plain
    serializable model ``{"weights": [n_features floats],
    "intercept": float, "n_features": int}`` — small enough to
    broadcast, engine-independent to store.

    ``fit_sample_rows`` hard-caps EACH side (count → Bernoulli
    oversample → limit, the ``fit_ivf_centroids`` bound) so the
    ``max_iter`` LR passes run over a bounded frame at any corpus
    size.  ``seed`` follows the reference's trainer convention
    (seed 999 across estimators) — it seeds the per-side samples; the
    LR solve itself is deterministic.

    Bounded driver solve (r11, the ``fit_ivf_centroids`` /
    ``kcore`` pattern): when the sampled problem fits the element
    budget AND the Hessian is small (``n_features`` ≤ 1024), the L2
    logistic fit is solved EXACTLY on the driver with a deterministic
    damped-Newton on spark.ml's own objective (mean log-loss over the
    instances + ``regParam/2·‖w‖²`` on the STANDARDIZED-space
    coefficients, features scaled by the unbiased std without
    centering, intercept unregularized, zero-variance features pinned
    to coefficient 0).  The objective is strictly convex, so both
    solvers share ONE optimum — parity with ``model.transform`` is
    pinned to 2e-6 in probability by
    ``test_quality_scorer_matches_ml_transform``.  This removes ~35
    scheduler-bound one-task jobs (~5 s warm at any scale, since the
    fit input is bounded).  Past either budget the distributed
    ``LogisticRegression`` path below runs unchanged.
    """
    from flashml_spark.operators.similarity import (
        _DRIVER_FIT_MAX_ELEMS,
        _bounded_fit_sample,
    )

    if n_features < 2:
        raise ValueError(f"n_features must be >= 2, got {n_features}")
    sides = []
    for label, side in ((1.0, positive_df), (0.0, negative_df)):
        s = _bounded_fit_sample(
            side.where(F.col(text_col).isNotNull()).select(text_col),
            None,
            fit_sample_rows,
            seed,
        )
        sides.append(s.select(
            H.tokens(F.col(text_col)).alias("__toks"),
            F.lit(label).alias("__label"),
        ))
    train = sides[0].unionByName(sides[1])

    # reg_param > 0 makes the objective strictly convex (ONE optimum
    # shared by both solvers); at 0 with separable data the "optimum"
    # is wherever the iteration budget stops — solver-trajectory-
    # dependent, so only spark.ml's own LBFGS may define it
    if reg_param > 0 and n_features <= 1024:
        # one limited collect doubles as the size probe (count+collect
        # merged: the fixture pipeline executes once, not twice); the
        # probe cap keeps the collected token payload bounded even
        # when the element budget would admit more rows
        probe_cap = min(
            max(1, _DRIVER_FIT_MAX_ELEMS // n_features), 8192
        )
        if fit_sample_rows is None or 2 * fit_sample_rows <= probe_cap:
            rows = train.limit(probe_cap + 1).collect()
            if 0 < len(rows) <= probe_cap:
                return _newton_driver_lr(
                    rows, n_features, max_iter, reg_param
                )

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    tf = HashingTF(
        inputCol="__toks", outputCol="__features", numFeatures=n_features
    )
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol="__label",
        maxIter=max_iter,
        regParam=reg_param,
    )
    from flashml_spark.training.estimators import fit

    model = fit(lr, tf.transform(train))
    return {
        "weights": [float(w) for w in model.coefficients],
        "intercept": float(model.intercept),
        "n_features": int(n_features),
    }


def _newton_driver_lr(
    rows,
    n_features: int,
    max_iter: int,
    reg_param: float,
    tol: float = 1e-12,
) -> dict:
    """Deterministic damped-Newton solve of spark.ml's binary-LR
    objective for the BOUNDED fit sample (see
    :func:`fit_quality_classifier`).  ``rows`` are collected
    ``(__toks, __label)`` rows; hashing uses the LITERAL HashingTF
    mirror (:func:`~flashml_spark.functions.hashing.hashing_tf_index`,
    pinned by ``test_murmur3_matches_ml_hashingtf``)."""
    import numpy as np

    n = len(rows)
    X = np.zeros((n, n_features), dtype=np.float64)
    bucket: dict[str, int] = {}
    for i, r in enumerate(rows):
        for tok in r["__toks"] or []:
            j = bucket.get(tok)
            if j is None:
                j = bucket[tok] = H.hashing_tf_index(tok, n_features)
            X[i, j] += 1.0
    y = np.asarray([float(r["__label"]) for r in rows])

    # spark.ml standardization: scale by the UNBIASED std, no centering;
    # zero-variance features are excluded (coefficient 0)
    if n > 1:
        std = X.std(axis=0, ddof=1)
    else:
        std = np.zeros(n_features)
    active = np.flatnonzero(std > 0.0)
    Xs = X[:, active] / std[active]
    d = active.size

    # init: coefs 0, intercept at the log-odds (spark.ml's warm start)
    pbar = min(max(y.mean(), 1e-12), 1.0 - 1e-12)
    theta = np.zeros(d + 1)
    theta[0] = np.log(pbar / (1.0 - pbar))
    lam = float(reg_param)

    def f_grad_hess(t):
        b, w = t[0], t[1:]
        z = b + Xs @ w
        # stable softplus mean log-loss + L2 on standardized coefs
        loss = np.mean(np.logaddexp(0.0, z) - y * z) + 0.5 * lam * w @ w
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -709.0, 709.0)))
        resid = (p - y) / n
        g = np.empty(d + 1)
        g[0] = resid.sum()
        g[1:] = Xs.T @ resid + lam * w
        s = p * (1.0 - p) / n
        Hs = np.empty((d + 1, d + 1))
        Hs[0, 0] = s.sum()
        hv = Xs.T @ s
        Hs[0, 1:] = hv
        Hs[1:, 0] = hv
        Hs[1:, 1:] = (Xs.T * s) @ Xs + lam * np.eye(d)
        return loss, g, Hs

    loss, g, Hess = f_grad_hess(theta)
    for _ in range(200):
        if np.max(np.abs(g)) < tol:
            break
        # tiny ridge keeps the solve well-posed when lam == 0 and the
        # data is separable (Hessian flattens near the optimum)
        step = np.linalg.solve(
            Hess + 1e-14 * np.eye(d + 1), -g
        )
        alpha = 1.0
        for _ls in range(60):
            cand = theta + alpha * step
            new_loss, new_g, new_H = f_grad_hess(cand)
            if new_loss <= loss + 1e-4 * alpha * (g @ step):
                theta, loss, g, Hess = cand, new_loss, new_g, new_H
                break
            alpha *= 0.5
        else:
            break

    weights = np.zeros(n_features)
    weights[active] = theta[1:] / std[active]
    return {
        "weights": [float(w) for w in weights],
        "intercept": float(theta[0]),
        "n_features": int(n_features),
    }


def score_quality_model(
    df: DataFrame,
    text_col: str,
    model: dict,
    out_col: str = "quality_score",
    keep_threshold: float | None = 0.5,
    round_to: int | None = 6,
) -> DataFrame:
    """Append the model's keep-probability (and, when
    ``keep_threshold`` is set, an ``is_kept`` 0/1 flag) to every row —
    the corpus-wide scoring pass of the GPT-3 recipe.

    Scale shape: ONE Arrow-batched pandas_udf over the text column
    with the ``n_features`` coefficient vector broadcast via
    ``SparkContext.broadcast`` — pure map, no shuffle; NULL text
    scores NULL (and ``is_kept`` 0).  GPT-3 itself resamples with a
    Pareto acceptance on this score; that is a one-line
    ``WHERE score > 1 - rv`` over any deterministic rv column
    downstream — the scorer stays sampling-free.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n = int(model["n_features"])
    weights = np.asarray(model["weights"], dtype=np.float64)
    if weights.shape != (n,):
        raise ValueError(
            f"model weights length {weights.shape[0]} != n_features {n}"
        )
    intercept = float(model["intercept"])
    bweights = df.sparkSession.sparkContext.broadcast(weights)

    # token -> weight memo, captured by the closure: each task gets a
    # fresh copy at deserialization and keeps it across Arrow batches.
    # The corpus vocabulary is zipfian, so nearly every lookup after
    # warm-up is one dict hit instead of a pure-Python murmur3
    # (guide §4: shrink the per-row Python work)
    memo: dict = {}

    @pandas_udf("double")
    def score(s: pd.Series) -> pd.Series:
        w = bweights.value
        out = []
        for toks in s:
            if toks is None:
                out.append(None)
                continue
            z = intercept
            for tok in toks:
                tw = memo.get(tok)
                if tw is None:
                    tw = memo[tok] = w[H.hashing_tf_index(tok, n)]
                z += tw
            z = min(max(z, -709.0), 709.0)  # exp() stays finite
            out.append(1.0 / (1.0 + np.exp(-z)))
        return pd.Series(out, dtype="float64")

    # tokenize in the JVM (H.tokens is the pinned twin of py_tokens —
    # test_py_token_count_matches_spark_tokens) and ship ONLY the token
    # array across the Arrow boundary; NULL text stays NULL through
    # split(lower(trim(...))) so the UDF's null contract is unchanged
    sc = score(H.tokens(F.col(text_col)))
    if round_to is not None:
        sc = F.round(sc, round_to)
    out = df.withColumn(out_col, sc)
    if keep_threshold is not None:
        out = out.withColumn(
            "is_kept",
            (F.col(out_col) >= F.lit(float(keep_threshold)))
            .cast("int")
            .alias("is_kept"),
        ).fillna({"is_kept": 0})
    return out


def pareto_quality_filter(
    df: DataFrame,
    score_col: str,
    id_col: str,
    alpha: float = 9.0,
    out_col: str = "is_sampled",
    salt: str = "pareto",
    round_to: int = 6,
) -> DataFrame:
    """The GPT-3 acceptance step (Brown et al. 2020 Appendix A): keep a
    document iff ``score > 1 - x`` with ``x ~ Pareto(alpha)`` — the
    soft cut that keeps SOME low-scoring mass (diversity) while
    heavily favoring high scores (GPT-3 used alpha=9 on its LR
    quality score; compose with :func:`score_quality_model`).

    Reproducible twin of ``numpy.random.pareto``: inverse-CDF
    ``x = u^(-1/alpha) - 1`` with the engine's deterministic
    ``u = md5_uniform(salt || id)`` — so the rule is one pure column
    expression, ``score > 2 - u^(-1/alpha)``, identical in any SQL
    engine (each engine computes the SAME u from the SAME md5).  The
    threshold is rounded to ``round_to`` before comparing so the
    float boundary is engine-exact.

    Pure map — no shuffle; at 100 TB this rides the scoring scan.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    u = H.md5_uniform(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    threshold = F.round(
        F.lit(2.0) - F.pow(u, F.lit(-1.0 / alpha)), round_to
    )
    return df.withColumn("accept_threshold", threshold).withColumn(
        out_col,
        (F.col(score_col) > F.col("accept_threshold")).cast("int"),
    )
