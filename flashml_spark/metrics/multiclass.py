"""Multiclass metrics from the confusion matrix, all DataFrame-side
(``core/metrics/StandardMetricsEvaluator.scala:119-309``).

One ``groupBy(label, prediction).count()`` — a few-KB result — yields
accuracy, weighted precision/recall/F1/F-beta, weighted TPR/FPR, and the
per-class confusion table.  (The reference's RDD ``MulticlassMetrics`` is
replaced by arithmetic over the tiny aggregate.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pair_counts(scored: DataFrame, label_col: str, prediction_col: str) -> DataFrame:
    return scored.groupBy(
        F.col(label_col).alias("label"), F.col(prediction_col).alias("pred")
    ).agg(F.count(F.lit(1)).alias("n"))


def confusion_matrix(
    scored: DataFrame, label_col: str = "label", prediction_col: str = "prediction"
) -> DataFrame:
    """``label, pred, n`` counts (``StandardMetricsEvaluator.scala:262-267``)."""
    return _pair_counts(scored, label_col, prediction_col).orderBy("label", "pred")


def multiclass_metrics(
    scored: DataFrame, label_col: str = "label", prediction_col: str = "prediction",
    beta: float = 2.0,
) -> dict:
    """accuracy + weighted P/R/F1/F-beta/TPR/FPR + per-class table."""
    # tiny; unordered, since the classes are sorted in pair_metrics
    cm = _pair_counts(scored, label_col, prediction_col).collect()
    return pair_metrics({(r["label"], r["pred"]): r["n"] for r in cm}, beta)


def pair_metrics(by_pair: dict, beta: float = 2.0) -> dict:
    """``multiclass_metrics`` from ``{(label, prediction): count}``."""
    classes = sorted({l for l, _ in by_pair} | {p for _, p in by_pair})
    total = sum(by_pair.values())
    if total == 0:
        # empty scored frame (e.g. an empty test page after page-level split
        # or a post-predict filter that removed all rows): zeroed metrics,
        # mirroring the per-class ratio guards below
        return {
            "accuracy": 0.0,
            "weightedPrecision": 0.0,
            "weightedRecall": 0.0,
            "weightedF1": 0.0,
            "weightedFbeta": 0.0,
            "weightedTruePositiveRate": 0.0,
            "weightedFalsePositiveRate": 0.0,
            "perClass": {},
        }

    per_class = {}
    for c in classes:
        tp = by_pair.get((c, c), 0)
        fn = sum(n for (l, p), n in by_pair.items() if l == c and p != c)
        fp = sum(n for (l, p), n in by_pair.items() if p == c and l != c)
        tn = total - tp - fn - fp
        support = tp + fn
        prec = tp / (tp + fp) if (tp + fp) else 0.0
        rec = tp / support if support else 0.0
        f1 = 2 * prec * rec / (prec + rec) if (prec + rec) else 0.0
        b2 = beta * beta
        fb = (
            (1 + b2) * prec * rec / (b2 * prec + rec) if (b2 * prec + rec) else 0.0
        )
        fpr = fp / (fp + tn) if (fp + tn) else 0.0
        per_class[c] = dict(
            tp=tp, fp=fp, fn=fn, tn=tn, support=support,
            precision=prec, recall=rec, f1=f1, fbeta=fb, fpr=fpr,
        )

    def weighted(key: str) -> float:
        return sum(m[key] * m["support"] for m in per_class.values()) / total

    return {
        "accuracy": sum(by_pair.get((c, c), 0) for c in classes) / total,
        "weightedPrecision": weighted("precision"),
        "weightedRecall": weighted("recall"),
        "weightedF1": weighted("f1"),
        "weightedFbeta": weighted("fbeta"),
        "weightedTruePositiveRate": weighted("recall"),
        "weightedFalsePositiveRate": weighted("fpr"),
        "perClass": per_class,
    }
