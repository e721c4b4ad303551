"""Batched GLM fits for cross-validation: every binary LinearSVC or
LogisticRegression model of a CV grid — one per (grid point, fold, class)
— fitted together, one Spark pass per optimizer step.

The reference fits each of them as an independent Spark job
(``CrossValidatorCustom.scala:124-306``, one-vs-rest inside).  Each fit is
a dozen or more small jobs, so a 2-point grid over 3 folds and 4 classes
starts hundreds of jobs for about a second of executor work.  Here the
driver holds all M weight vectors and every pass computes all of them:

* one stats pass gives, per fold, the row count, the per-feature mean and
  sum of squared deviations, and the label counts; a fit's training
  statistics combine all folds but its own;
* one pass per loss-and-gradient evaluation broadcasts the M models and
  returns each partition's partial loss and gradient for all of them
  (model (g, f, k) reads only the rows with ``fold != f``; its target is
  ``label == k``, or ``label == 1`` for a binary estimator); the driver
  sums the partials and takes one L-BFGS step for every model still
  running, in numpy;
* one more pass counts (label, prediction) pairs over every (grid point,
  fold)'s validation rows.

The objective is Spark's: the mean hinge (LinearSVC) or log-loss
(LogisticRegression) over the fit's training rows, in standardized space
(n-1 sample std over those rows, inverse std 0 for a constant feature,
centred when the intercept is fitted), plus ``regParam/2·‖w‖²`` on the
coefficients only (on the unstandardized coefficients when
``standardization`` is off).  At convergence it gives Spark's models;
at a truncated ``maxIter`` the iterates differ from Breeze's, so only
the fold metrics move.  The refit and the published model stay Spark's
own fits.

``fold_pair_counts`` returns None, after logging why, for anything else:
another estimator, multinomial or elastic-net LR, a weight column,
coefficient bounds, another grid param, or more memory than
``_BYTE_BUDGET``.
"""

from __future__ import annotations

import logging
import math
import pickle
from collections import Counter, deque
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.ml.classification import LinearSVC, LogisticRegression, OneVsRest
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flashml_spark.training.estimators import sniff_feature_dim

log = logging.getLogger("flashml_spark.tuning")

# Bytes the batched path may hold at once: the driver's solver state (about
# _STATE_COPIES weight matrices, plus one partial gradient per partition)
# and one Arrow batch of dense feature rows in a Python worker.
_BYTE_BUDGET = 64 << 20
_HISTORY = 10  # L-BFGS correction pairs (Spark's m)
_FVAL_MEMORY = 20  # Breeze's window for the function-value convergence test
_STATE_COPIES = 2 * _HISTORY + 6
_ARMIJO = 1e-4
_MAX_TRIALS = 20  # loss evaluations per line search before it fails
_TASK_CELLS = 1 << 24  # feature values per Python task in a solver pass
_GRID_PARAMS = {"regParam", "maxIter", "tol"}
_BOUNDS = ("lowerBoundsOnCoefficients", "upperBoundsOnCoefficients",
           "lowerBoundsOnIntercepts", "upperBoundsOnIntercepts")


@dataclass
class _Spec:
    hinge: bool  # LinearSVC; else binary LogisticRegression
    ovr: bool
    features: str
    label: str
    fit_intercept: bool
    standardization: bool
    threshold: float  # binary prediction is ``margin > threshold``
    grid: list  # (regParam, maxIter, tol) per param map


def plan(est, param_maps: list[dict], label_col: str) -> tuple[_Spec | None, str]:
    """The batched path's spec for ``est`` over ``param_maps``, or None
    and the reason it cannot take them."""
    ovr = isinstance(est, OneVsRest)
    clf = est.getClassifier() if ovr else est
    if not isinstance(clf, (LinearSVC, LogisticRegression)):
        return None, f"{type(clf).__name__} is not LinearSVC or LogisticRegression"
    other = sorted({k for pm in param_maps for k in pm} - _GRID_PARAMS)
    if other:
        return None, f"grid param(s) {other}"
    if any(e.hasParam("weightCol") and e.isDefined("weightCol") and e.getOrDefault("weightCol")
           for e in (est, clf)):
        return None, "weightCol is set"
    if est.getLabelCol() != label_col:
        return None, f"estimator label {est.getLabelCol()!r} is not {label_col!r}"
    threshold = 0.0
    if isinstance(clf, LinearSVC):
        threshold = clf.getThreshold()
    else:
        if clf.getElasticNetParam() != 0.0:
            return None, "elasticNetParam is not 0"
        if clf.getFamily() == "multinomial":
            return None, "multinomial family"
        if any(clf.isSet(b) for b in _BOUNDS) or clf.isSet("thresholds"):
            return None, "coefficient bounds or thresholds are set"
        t = clf.getThreshold()
        threshold = math.inf if t >= 1.0 else -math.inf if t <= 0.0 else math.log(t / (1 - t))
    grid = [
        (float(pm.get("regParam", clf.getRegParam())), int(pm.get("maxIter", clf.getMaxIter())),
         float(pm.get("tol", clf.getTol())))
        for pm in param_maps
    ]
    return _Spec(
        hinge=isinstance(clf, LinearSVC), ovr=ovr, features=est.getFeaturesCol(),
        label=label_col, fit_intercept=clf.getFitIntercept(),
        standardization=clf.getStandardization(), threshold=threshold, grid=grid,
    ), ""


# ---------------------------------------------------------------- worker side
def _batches(it):
    """(fold, label, dense features) numpy arrays per Arrow batch."""
    for b in it:
        if b.num_rows:
            yield (b.column(0).to_numpy(zero_copy_only=False),
                   b.column(1).to_numpy(zero_copy_only=False),
                   b.column(2).flatten().to_numpy(zero_copy_only=False).reshape(b.num_rows, -1))


def _payload(obj):
    return pa.RecordBatch.from_pydict({"payload": [pickle.dumps(obj)]})


def _merge(a, b):
    """Combine two (count, mean, sum of squared deviations) summaries
    (Chan et al.'s pairwise update)."""
    if a is None:
        return b
    if b is None:
        return a
    (na, ma, sa), (nb, mb, sb) = a, b
    n = na + nb
    delta = mb - ma
    return n, ma + delta * (nb / n), sa + sb + delta * delta * (na * nb / n)


def _stats_task(it):
    """Per (fold, label): row count, feature mean and sum of squared
    deviations."""
    cells = {}
    for fold, y, x in _batches(it):
        keys, inverse = np.unique(np.stack([fold, y], axis=1), axis=0, return_inverse=True)
        for i, (f, v) in enumerate(keys):
            xs = x[inverse.ravel() == i]
            mean = xs.mean(axis=0)
            key = (int(f), float(v))
            cells[key] = _merge(cells.get(key), (len(xs), mean, ((xs - mean) ** 2).sum(axis=0)))
    yield _payload(cells)


def _terms(z, target, hinge: bool):
    """Per-row loss and its derivative in the margin ``z``, for 0/1 targets:
    hinge on labels ±1 (LinearSVC) or the log-loss (LogisticRegression)."""
    if hinge:
        ys = np.where(target, 1.0, -1.0)
        active = ys * z < 1.0
        return np.where(active, 1.0 - ys * z, 0.0), np.where(active, -ys, 0.0)
    return np.logaddexp(0.0, z) - target * z, np.exp(-np.logaddexp(0.0, -z)) - target


def _partials(fold, y, x, models, hinge: bool, weight=None):
    """Summed loss, gradient in the original features, and summed loss
    derivative of every model over the rows it trains on.  ``models`` is
    (coefficients, intercepts, fold, class) per model; ``weight`` repeats
    rows."""
    coef, intercept, fold_of, class_of = models
    train = fold[:, None] != fold_of[None, :]
    loss, resid = _terms(x @ coef.T + intercept, y[:, None] == class_of[None, :], hinge)
    loss, resid = np.where(train, loss, 0.0), np.where(train, resid, 0.0)
    if weight is not None:
        loss, resid = loss * weight[:, None], resid * weight[:, None]
    return loss.sum(axis=0), resid.T @ x, resid.sum(axis=0)


def _loss_grad_task(bc, hinge: bool):
    def run(it):
        models = bc.value
        total = (0.0, 0.0, 0.0)
        for fold, y, x in _batches(it):
            total = tuple(a + b for a, b in zip(total, _partials(fold, y, x, models, hinge)))
        yield _payload(total)
    return run


def _count_task(bc, ovr: bool, threshold: float):
    def run(it):
        coef, intercept, groups = bc.value
        counts = Counter()
        for fold, y, x in _batches(it):
            z = x @ coef.T + intercept
            for key, idx in groups:
                rows = fold == key[1]
                if not rows.any():
                    continue
                zs = z[rows][:, idx]
                pred = zs.argmax(axis=1) if ovr else zs[:, 0] > threshold
                pairs, n = np.unique(np.stack([y[rows], pred.astype(float)], axis=1),
                                     axis=0, return_counts=True)
                counts.update({(key, float(l), float(p)): int(c) for (l, p), c in zip(pairs, n)})
        yield _payload(counts)
    return run


def _collect(data: DataFrame, task) -> list:
    """One Spark job: ``task`` over every partition of ``data``; the
    per-partition payloads, unpickled."""
    return [pickle.loads(r.payload)
            for r in data.mapInArrow(task, "payload binary").collect()]


def _collect_with(data: DataFrame, make_task, value) -> list:
    """``_collect`` of ``make_task(bc)``, where ``bc`` broadcasts ``value``."""
    bc = data.sparkSession.sparkContext.broadcast(value)
    try:
        return _collect(data, make_task(bc))
    finally:
        bc.destroy()


# ---------------------------------------------------------------- driver side
def _two_loop(g, hist):
    """L-BFGS search direction from gradient ``g`` and (s, y, 1/s·y) pairs."""
    q = g.copy()
    alphas = []
    for s, y, rho in reversed(hist):
        a = rho * (s @ q)
        q -= a * y
        alphas.append(a)
    s, y, _ = hist[-1]
    q *= (s @ y) / (y @ y)
    for (s, y, rho), a in zip(hist, reversed(alphas)):
        q += s * (a - rho * (y @ q))
    return -q


def lbfgs(evaluate, x0, max_iter, tol):
    """Minimize M objectives at once with L-BFGS and a backtracking Armijo
    line search.  ``evaluate(x, idx)`` returns the losses and gradients of
    models ``idx`` at the rows of ``x``; each call evaluates every model
    still running.  Model m stops after ``max_iter[m]`` accepted steps,
    when its gradient's max-norm is at most ``tol[m]·|f|``, when its last
    ``_FVAL_MEMORY`` losses differ by at most ``tol[m]·|f0|`` (Breeze's
    tests), or when a line search fails twice (once, it restarts from
    steepest descent, as Breeze does)."""
    x = np.array(x0, dtype=float)
    m_count = len(x)
    f, g = evaluate(x, np.arange(m_count))
    f0 = np.abs(f)
    hist = [deque(maxlen=_HISTORY) for _ in range(m_count)]
    fvals = [deque([v], maxlen=_FVAL_MEMORY) for v in f]
    iters = np.zeros(m_count, dtype=int)
    trials = np.zeros(m_count, dtype=int)
    failed = np.zeros(m_count, dtype=bool)
    p = -g
    step = 1.0 / np.maximum(np.linalg.norm(p, axis=1), 1e-300)
    slope = np.einsum("ij,ij->i", g, p)

    def converged(m):
        return (iters[m] >= max_iter[m]
                or np.max(np.abs(g[m])) <= tol[m] * abs(f[m])
                or (len(fvals[m]) == _FVAL_MEMORY and max(fvals[m]) - f[m] <= tol[m] * f0[m]))

    def restart(m):
        hist[m].clear()
        p[m] = -g[m]
        step[m] = 1.0 / max(np.linalg.norm(p[m]), 1e-300)
        slope[m] = g[m] @ p[m]
        trials[m] = 0

    done = np.array([converged(m) for m in range(m_count)], dtype=bool)
    while not done.all():
        act = np.flatnonzero(~done)
        xt = x[act] + step[act, None] * p[act]
        ft, gt = evaluate(xt, act)
        for j, m in enumerate(act):
            if ft[j] <= f[m] + _ARMIJO * step[m] * slope[m]:
                s, y = xt[j] - x[m], gt[j] - g[m]
                sy = s @ y
                if sy > 1e-10 * (y @ y):
                    hist[m].append((s, y, 1.0 / sy))
                x[m], f[m], g[m] = xt[j], ft[j], gt[j]
                iters[m] += 1
                fvals[m].append(f[m])
                if converged(m):
                    done[m] = True
                    continue
                trials[m] = 0
                if hist[m]:
                    p[m] = _two_loop(g[m], hist[m])
                    step[m] = 1.0
                    slope[m] = g[m] @ p[m]
                if not hist[m] or slope[m] >= 0.0:
                    restart(m)
                continue
            # backtrack: minimizer of the quadratic through f, slope and
            # the trial, kept within [0.1, 0.5] of the failed step
            trials[m] += 1
            a = step[m]
            curv = ft[j] - f[m] - slope[m] * a
            a_new = -slope[m] * a * a / (2.0 * curv) if np.isfinite(curv) and curv > 0 else 0.5 * a
            step[m] = min(max(a_new, 0.1 * a), 0.5 * a)
            if trials[m] >= _MAX_TRIALS or step[m] * np.linalg.norm(p[m]) < 1e-12:
                if failed[m]:
                    done[m] = True
                else:
                    failed[m] = True
                    restart(m)
    return x


@dataclass
class FoldModels:
    """The fitted batch: model ``i`` is grid point ``keys[i][0]``, fold
    ``keys[i][1]`` and class ``keys[i][2]``, with original-space
    ``coef[i]`` and ``intercept[i]``, as Spark's model reports them.
    ``data`` is the frame the solver's passes read."""
    keys: list
    coef: np.ndarray
    intercept: np.ndarray
    data: DataFrame


def fit_fold_models(spec: _Spec, data: DataFrame, num_folds: int, d: int) -> FoldModels | None:
    """Fit every (grid point, fold, class) model of ``spec`` on ``data``
    (``fold_data``'s columns).  None, after logging why, when the solver
    state would exceed ``_BYTE_BUDGET`` or a binary estimator sees a label
    other than 0 and 1."""
    cells = {}  # (fold, label) -> (count, mean, sum of squared deviations)
    for part in _collect(data, _stats_task):
        for key, moments in part.items():
            cells[key] = _merge(cells.get(key), moments)
    if not spec.ovr and any(v not in (0.0, 1.0) for _, v in cells):
        log.info("tuning.cv: per-model fits: a binary estimator sees labels other than 0 and 1")
        return None
    cell_keys = sorted(cells)
    cell_fold = np.array([f for f, _ in cell_keys])
    cell_label = np.array([v for _, v in cell_keys])
    cell_n = np.array([float(cells[k][0]) for k in cell_keys])
    cell_mean = np.array([cells[k][1] for k in cell_keys]).reshape(len(cell_keys), d)

    stats = []
    for f in range(num_folds):
        # a fit trains on every fold but its own
        acc = None
        for key in cell_keys:
            if key[0] != f:
                acc = _merge(acc, cells[key])
        n, mean, m2 = acc or (0, np.zeros(d), np.zeros(d))
        std = np.sqrt(m2 / (n - 1)) if n > 1 else np.zeros(d)
        stats.append((n, mean, np.divide(1.0, std, out=np.zeros(d), where=std != 0.0)))
    keys = []
    for g in range(len(spec.grid)):
        for f in range(num_folds):
            if spec.ovr:  # pyspark's OneVsRest: classes 0 .. the largest training label
                top = max((v for cf, v in cell_keys if cf != f), default=0.0)
                keys += [(g, f, k) for k in range(int(top) + 1)]
            else:
                keys.append((g, f, 1))
    parts = data.rdd.getNumPartitions()
    state = len(keys) * (d + 1) * 8 * (_STATE_COPIES + parts)
    if state > _BYTE_BUDGET:
        log.info("tuning.cv: per-model fits: %d models x %d features need %d bytes, over %d",
                 len(keys), d, state, _BYTE_BUDGET)
        return None
    # one task per _TASK_CELLS feature values: each Python task has a fixed cost
    data = data.coalesce(max(1, min(parts, -(-int(cell_n.sum()) * d // _TASK_CELLS))))

    fold_of = np.array([f for _, f, _ in keys])
    class_of = np.array([float(k) for _, _, k in keys])
    reg = np.array([spec.grid[g][0] for g, _, _ in keys])
    n = np.array([float(stats[f][0]) for f in fold_of])
    mean = np.array([stats[f][1] for f in fold_of])
    inv = np.array([stats[f][2] for f in fold_of])
    n_pos = ((cell_fold[None, :] != fold_of[:, None])
             & (cell_label[None, :] == class_of[:, None])) @ cell_n

    def original(theta, idx):
        """Standardized (w, b) -> original-space (coefficients, intercept);
        the standardized margin is centred when the intercept is fitted."""
        coef = theta[:, :d] * inv[idx]
        if not spec.fit_intercept:
            return coef, np.zeros(len(idx))
        return coef, theta[:, d] - (coef * mean[idx]).sum(axis=1)

    def evaluate(theta, idx):
        coef, icpt = original(theta, idx)
        models = (coef, icpt, fold_of[idx], class_of[idx])
        if not coef.any():
            # every margin is its model's intercept: the (fold, label)
            # cells' counts and means give the sums without a pass
            loss, grad, resid = _partials(cell_fold, cell_label, cell_mean, models,
                                          spec.hinge, cell_n)
        else:
            loss, grad, resid = 0.0, 0.0, 0.0
            for part in _collect_with(data, lambda bc: _loss_grad_task(bc, spec.hinge), models):
                loss, grad, resid = loss + part[0], grad + part[1], resid + part[2]
        nn = n[idx]
        w = theta[:, :d]
        out = np.zeros(theta.shape)
        if spec.fit_intercept:
            out[:, :d] = inv[idx] * (grad - mean[idx] * resid[:, None]) / nn[:, None]
            out[:, d] = resid / nn
        else:
            out[:, :d] = inv[idx] * grad / nn[:, None]
        # Spark's L2: on w in standardized space, or on the original-space
        # coefficients w·inv when standardization is off
        pen = w if spec.standardization else w * inv[idx] ** 2
        out[:, :d] += reg[idx, None] * pen
        return loss / nn + 0.5 * reg[idx] * (w * pen).sum(axis=1), out

    theta0 = np.zeros((len(keys), d + 1))
    # LR: constant training labels give Spark's fixed model (zero
    # coefficients, intercept ±inf); the others start from the log-odds
    fixed = np.zeros(len(keys), dtype=bool)
    if not spec.hinge and spec.fit_intercept:
        fixed = (n_pos == 0) | (n_pos == n)
        theta0[:, d] = np.log(np.maximum(n_pos, 1) / np.maximum(n - n_pos, 1))
    max_iter = np.array([0 if fixed[i] else spec.grid[g][1] for i, (g, _, _) in enumerate(keys)])
    tol = np.array([spec.grid[g][2] for g, _, _ in keys])
    theta = lbfgs(evaluate, theta0, max_iter, tol)
    coef, icpt = original(theta, np.arange(len(keys)))
    coef[fixed] = 0.0
    icpt = np.where(fixed, np.where(n_pos == 0, -np.inf, np.inf), icpt)
    return FoldModels(keys, coef, icpt, data)


def fold_data(tagged: DataFrame, spec: _Spec) -> DataFrame:
    """The solver's input: fold id, label and dense features per row."""
    return tagged.select(
        F.col("__fold").cast("int").alias("fold"),
        F.col(spec.label).cast("double").alias("label"),
        vector_to_array(F.col(spec.features)).alias("x"),
    )


def _feature_dim(df: DataFrame, col: str) -> int:
    """Vector size from the column's ML attribute metadata, else from one row."""
    size = df.schema[col].metadata.get("ml_attr", {}).get("num_attrs")
    return int(size) if size is not None else sniff_feature_dim(df, col)


def fold_pair_counts(est, param_maps: list[dict], tagged: DataFrame, num_folds: int,
                     label_col: str) -> dict | None:
    """``{(param index, fold): {(label, prediction): count}}`` over each
    fold's validation rows, from one batched fit of every fold model;
    ``tagged`` carries the fold id in ``__fold``.  None, after logging
    why, when the per-model path must run instead."""
    spec, reason = plan(est, param_maps, label_col)
    if spec is None:
        log.info("tuning.cv: per-model fits: %s", reason)
        return None
    d = _feature_dim(tagged, spec.features)
    batch_rows = int(tagged.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    # a non-positive setting means unbounded Arrow batches
    if batch_rows <= 0 or batch_rows * d * 8 > _BYTE_BUDGET:
        log.info("tuning.cv: per-model fits: Arrow batches of %d rows x %d features exceed %d bytes",
                 batch_rows, d, _BYTE_BUDGET)
        return None
    models = fit_fold_models(spec, fold_data(tagged, spec), num_folds, d)
    if models is None:
        return None
    log.info("tuning.cv: batched fit of %d models (%d param maps x %d folds%s), %d features",
             len(models.keys), len(param_maps), num_folds, " x classes" if spec.ovr else "", d)
    groups = {}
    for i, (g, f, _) in enumerate(models.keys):
        groups.setdefault((g, f), []).append(i)
    value = (models.coef, models.intercept, [(key, np.array(idx)) for key, idx in groups.items()])
    counts: dict = {}
    for part in _collect_with(models.data, lambda bc: _count_task(bc, spec.ovr, spec.threshold),
                              value):
        for (key, l, p), c in part.items():
            pairs = counts.setdefault(key, {})
            pairs[(l, p)] = pairs.get((l, p), 0) + c
    return counts
