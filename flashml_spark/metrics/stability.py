"""Model-health monitoring: PSI and VSI
(``core/metrics/ModelHealthMetricsEvaluator.scala:43-210``).

PSI (population stability): decile buckets fit on the BASE score
distribution (QuantileDiscretizer), applied to both base and new; bucket
counts full-outer-joined; SI = Σ (p_new - p_base)·ln(p_new/p_base)·100.
Each side's fraction p is its bucket count over ALL of that side's rows;
the sum runs over buckets populated on both sides (a one-sided bucket has
no finite term and is reported separately, ``empty_psi_buckets``).
VSI (variable stability): same formula over a categorical variable's value
frequencies, plus missing/new value reporting via anti-joins.

The per-bucket/per-value tables are tiny (≤ buckets/values rows); data-
sized frames never reach the driver.
"""

from __future__ import annotations

from pyspark.ml.feature import QuantileDiscretizer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flashml_spark.functions.stability import psi_from_bucket_counts


def psi(
    base: DataFrame, new: DataFrame, score_col: str, num_buckets: int = 10
) -> float:
    """Population-stability index between a base (training-time) and new
    (serving-time) score distribution."""
    disc = QuantileDiscretizer(
        numBuckets=num_buckets, inputCol=score_col, outputCol="__bucket",
        handleInvalid="keep",
    ).fit(base)
    b = disc.transform(base).groupBy("__bucket").agg(F.count(F.lit(1)).alias("cnt_base"))
    n = disc.transform(new).groupBy("__bucket").agg(F.count(F.lit(1)).alias("cnt_new"))
    # full join: each whole-frame sum skips the other side's nulls, so each
    # side's fractions are over its own rows; a one-sided bucket's term is
    # null and drops out of the sum (the reference reports empty-bucket
    # ranges separately)
    joined = b.join(n, "__bucket", "full")
    row = psi_from_bucket_counts(joined, "cnt_base", "cnt_new", out_col="psi").first()
    return row["psi"] if row and row["psi"] is not None else 0.0


def empty_psi_buckets(base: DataFrame, new: DataFrame, score_col: str,
                      num_buckets: int = 10) -> list[int]:
    """Bucket ids present in base but empty in new (reported, not summed —
    ``ModelHealthMetricsEvaluator.scala:110-119``)."""
    disc = QuantileDiscretizer(
        numBuckets=num_buckets, inputCol=score_col, outputCol="__bucket",
        handleInvalid="keep",
    ).fit(base)
    b = disc.transform(base).select("__bucket").distinct()
    n = disc.transform(new).select("__bucket").distinct()
    return sorted(r["__bucket"] for r in b.subtract(n).collect())


def vsi(base: DataFrame, new: DataFrame, var_col: str,
        max_reported_values: int = 1000) -> dict:
    """Variable-stability index for one categorical variable + the value
    sets missing from / new to the serving data.

    The missing/new lists are driver-side reports, so they are capped at
    ``max_reported_values`` per side (a variable mistakenly declared
    categorical — e.g. a user id — would otherwise materialize its whole
    domain on the driver).  ``missingTruncated``/``newTruncated`` flag when
    the cap was hit; the VSI sum itself is unaffected (computed
    distributed over the values present on both sides, each side's shares
    taken over all of its own rows)."""
    b = base.groupBy(F.col(var_col).alias("__vb")).agg(F.count(F.lit(1)).alias("cnt_base"))
    n = new.groupBy(F.col(var_col).alias("__vn")).agg(F.count(F.lit(1)).alias("cnt_new"))
    # full join as in ``psi``, null-safe so a NULL value adds a term like
    # any other; the keys are named apart because ``vsi_for_variables``
    # may pass the same frame as both sides
    joined = b.join(n, F.col("__vb").eqNullSafe(F.col("__vn")), "full")
    row = psi_from_bucket_counts(joined, "cnt_base", "cnt_new", out_col="vsi").first()
    cap = max_reported_values + 1  # fetch one extra to detect truncation
    b_vals, n_vals = b.select(F.col("__vb").alias("v")), n.select(F.col("__vn").alias("v"))
    missing = sorted(r["v"] for r in b_vals.subtract(n_vals).limit(cap).collect())
    new_values = sorted(r["v"] for r in n_vals.subtract(b_vals).limit(cap).collect())
    return {
        "vsi": row["vsi"] if row and row["vsi"] is not None else 0.0,
        "missingValues": missing[:max_reported_values],
        "newValues": new_values[:max_reported_values],
        "missingTruncated": len(missing) > max_reported_values,
        "newTruncated": len(new_values) > max_reported_values,
    }


def psi_by_page(
    base: DataFrame,
    new: DataFrame,
    score_col: str,
    page_col: str,
    num_pages: int,
    num_buckets: int = 10,
    parallelism: int = 3,
) -> dict[int, float]:
    """Per-page PSI, pages evaluated concurrently from the driver
    (``ModelHealthMetricsEvaluator.scala:59`` uses Scala parallel
    collections; here a thread pool issues concurrent Spark jobs)."""
    from concurrent.futures import ThreadPoolExecutor

    b = base.persist()
    n = new.persist()
    b.count(), n.count()

    def one(k: int) -> tuple[int, float]:
        pred = (F.col(page_col) == k) if k < num_pages else (F.col(page_col) >= k)
        return k, psi(b.filter(pred), n.filter(pred), score_col, num_buckets)

    try:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            return dict(pool.map(one, range(1, num_pages + 1)))
    finally:
        b.unpersist()
        n.unpersist()


def vsi_for_variables(
    base: DataFrame,
    new: DataFrame,
    var_cols: list[str],
    parallelism: int = 3,
) -> dict[str, dict]:
    """VSI for every categorical variable, concurrently
    (``ModelHealthMetricsEvaluator.scala:157``)."""
    from concurrent.futures import ThreadPoolExecutor

    b = base.persist()
    n = new.persist()
    b.count(), n.count()
    try:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            return dict(
                pool.map(lambda v: (v, vsi(b, n, v)), var_cols)
            )
    finally:
        b.unpersist()
        n.unpersist()


def psi_timeline(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    base_days: int = 7,
    bins: int = 10,
) -> DataFrame:
    """Daily PSI drift timeline: the monitoring PSI (same
    ``Σ (p_new − p_base)·ln(p_new/p_base)·100`` over buckets populated
    on both sides) computed for EVERY day against a base period — the
    first ``base_days`` calendar days — turning the one-shot
    base-vs-serving health check into the time series an on-call
    actually watches ("when did the drift start").

    Buckets are ``bins`` equidistant cells over the BASE min/max
    (values outside clamp into the edge cells), not quantile cells —
    equidistant edges are pure arithmetic, so any engine reproduces
    the bucketing exactly.  Scale shape: one corpus pass for the
    (day, bin) counts; everything after is |days|·bins rows.
    Output: ``d, n, psi`` ordered by day.
    """
    daily = df.select(
        F.col(ts_col).cast("date").alias("d"), F.col(value_col).alias("v")
    ).where(F.col("v").isNotNull())
    span = daily.agg(F.min("d").alias("d0"))
    base_bounds = (
        daily.crossJoin(F.broadcast(span))  # 1-row scalar broadcast
        .where(F.datediff(F.col("d"), F.col("d0")) < base_days)
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    binned = daily.crossJoin(F.broadcast(base_bounds)).crossJoin(
        F.broadcast(span)
    )
    bin_col = F.least(
        F.greatest(
            F.floor(
                (F.col("v") - F.col("lo"))
                * F.lit(float(bins))
                / (F.col("hi") - F.col("lo"))
            ),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )
    tagged = binned.select(
        "d",
        bin_col.alias("b"),
        (F.datediff(F.col("d"), F.col("d0")) < base_days).alias("in_base"),
    )
    # single-scan discipline: three consumers (base shares, day totals,
    # day shares) read this |days|·bins-bounded frame — pin it so the
    # corpus bucketing pass runs once, not per consumer
    cells = (
        tagged.groupBy("d", "b", "in_base")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    base = (
        cells.where("in_base")
        .groupBy("b")
        .agg(F.sum("c").alias("cb"))
        .crossJoin(
            F.broadcast(
                cells.where("in_base").agg(F.sum("c").alias("tb"))
            )
        )
        .select("b", (F.col("cb") / F.col("tb")).alias("pb"))
    )
    day_tot = cells.groupBy("d").agg(F.sum("c").alias("td"))
    day_share = (
        cells.groupBy("d", "b")
        .agg(F.sum("c").alias("cd"))
        .join(day_tot, "d")
        .select("d", "b", (F.col("cd") / F.col("td")).alias("pd"))
    )
    return (
        day_share.join(base, "b")  # inner: both-sides-populated buckets
        .groupBy("d")
        .agg(
            F.round(
                F.sum(
                    (F.col("pd") - F.col("pb"))
                    * F.log(F.col("pd") / F.col("pb"))
                )
                * 100.0,
                6,
            ).alias("psi")
        )
        .join(day_tot.select("d", F.col("td").alias("n")), "d")
        .select("d", F.col("n").cast("bigint").alias("n"), "psi")
        .orderBy("d")
    )
