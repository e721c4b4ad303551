"""Sampling / splitting / class-balancing operators (SURVEY §2.5).

The reference drops to RDD level for stratified sampling and class
stabilization (``core/sampling/TrainTestSampler.scala``); here everything
stays in DataFrame land so Catalyst/AQE keep optimizing, and nothing is
collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# FlashMLConstants.scala:281 — fixed sampling seed used by every golden test
DEFAULT_SEED = 20


def random_split(df: DataFrame, weights: list[float], seed: int = DEFAULT_SEED) -> list[DataFrame]:
    """``df.randomSplit(splitPercents, seed)`` (``TrainTestSampler.scala:59-64``)."""
    total = float(sum(weights))
    return df.randomSplit([w / total for w in weights], seed=seed)


def stratified_split(
    df: DataFrame,
    label_col: str,
    train_fraction: float,
    seed: int = DEFAULT_SEED,
) -> tuple[DataFrame, DataFrame]:
    """Exact stratified train/test split.

    Reference: ``TrainTestSampler.scala:113-145`` / ``StratifiedTrainTestSplitter
    .scala:33-51`` — RDD ``sampleByKeyExact`` then ``except``.  DataFrame-native
    equivalent: per-class shuffle order via ``row_number() OVER (PARTITION BY
    label ORDER BY rand(seed))`` against the per-class count — exact to ±1 row
    per class, one shuffle, no second pass and no ``except`` anti-join over the
    full data (the reference's ``except`` is a full shuffle of both sides —
    strictly worse at scale).

    Scale note: the per-class window puts each class in ONE partition —
    fine into the ~10^8 rows/class range, a cliff beyond; use
    ``stratified_split_approx`` (zero shuffle) at 100 TB.
    """
    w = Window.partitionBy(label_col).orderBy(F.rand(seed))
    cnt = Window.partitionBy(label_col)
    tagged = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(cnt)
    )
    is_train = F.col("__rn") <= (F.col("__n") * F.lit(train_fraction))
    train = tagged.filter(is_train).drop("__rn", "__n")
    test = tagged.filter(~is_train).drop("__rn", "__n")
    return train, test


def stratified_split_approx(
    df: DataFrame,
    label_col: str,
    train_fraction: float,
    seed: int = DEFAULT_SEED,
) -> tuple[DataFrame, DataFrame]:
    """Approximate stratified split: per-row Bernoulli draw, so EVERY
    class keeps the train fraction in expectation (``df.sampleBy`` with
    equal per-class fractions, reference ``sampleByKey`` non-exact mode).

    ZERO shuffle, pure map — the 100 TB path.  Class fractions deviate
    O(1/√class_count), negligible at scale where the exact variant's
    one-partition-per-class window becomes the bottleneck.
    """
    tagged = df.withColumn("__r", F.rand(seed))
    train = tagged.filter(F.col("__r") < train_fraction).drop("__r")
    test = tagged.filter(F.col("__r") >= train_fraction).drop("__r")
    return train, test


def conditional_split(df: DataFrame, conditions: list[str]) -> list[DataFrame]:
    """One filter per config condition, e.g. ``rv<=80`` / ``rv>80``
    (``TrainTestSampler.scala:154-159``)."""
    return [df.filter(c) for c in conditions]


def stabilize_classes(
    df: DataFrame,
    label_col: str,
    min_support: int,
    other_label: str = "OTHER",
    out_col: str | None = None,
) -> DataFrame:
    """Relabel classes with count < min_support to ``other_label``.

    Reference: ``TrainTestSampler.scala:72-105`` uses RDD
    keyBy/reduceByKey/join (three shuffles).  A ``count() OVER (PARTITION
    BY label)`` window would be one shuffle but lands ALL rows in
    |classes| partitions — a skew trap at scale.  Instead: aggregate class
    counts (tiny, map-side partial agg) and broadcast-join them back — the
    data never shuffles at all.
    """
    out_col = out_col or label_col
    counts = df.groupBy(F.col(label_col).alias("__lbl")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    joined = df.join(F.broadcast(counts), df[label_col] == counts["__lbl"], "left")
    return joined.withColumn(
        out_col,
        F.when(F.col("__cnt") < min_support, F.lit(other_label)).otherwise(F.col(label_col)),
    ).drop("__lbl", "__cnt")


def minority_majority_labels(df: DataFrame, label_col: str) -> DataFrame:
    """``groupBy(label).count().orderBy(count)`` — first row = minority class
    (``TrainTestSampler.scala:291-300``)."""
    return df.groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt")).orderBy("cnt", label_col)


def balance_conditional(
    df: DataFrame,
    label_col: str,
    majority_label,
    random_col: str,
    keep_fraction: float,
) -> DataFrame:
    """Deterministic under-sampling of the majority class via a threshold on
    the random variable (``TrainTestSampler.scala:244-281``):
    keep majority rows with ``rv < rv_min + f * (rv_max - rv_min)``.

    The min/max agg is a tiny all-reduce; the filter is then pushed down.
    """
    bounds = (
        df.filter(F.col(label_col) == majority_label)
        .agg(F.min(random_col).alias("mn"), F.max(random_col).alias("mx"))
        .first()
    )
    if bounds["mn"] is None:
        return df
    thresh = bounds["mn"] + keep_fraction * (bounds["mx"] - bounds["mn"])
    keep = (F.col(label_col) != majority_label) | (F.col(random_col) < thresh)
    return df.filter(keep)


def quota_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Deterministic per-group quota sample: keep the first ``k`` rows of
    each group in md5(id) order (a fixed pseudo-random shuffle — the same
    rows survive on every engine and every run).  The curation use-case is
    per-source / per-language corpus quotas.

    Shape: one shuffle on the group key; the ranked window runs per group.
    For groups too large to rank in one task, the two-pass threshold
    variant (``balance_conditional`` on the derived random variable) is
    the approximate scale path — this exact variant is for quota sizes
    where per-group ranking is acceptable (k and group counts both
    bounded).
    """
    from pyspark.sql import Window as W

    from flashml_spark.functions import hashing as H

    order = H.md5_hex(F.col(id_col).cast("string").cast("binary"))
    w = W.partitionBy(group_col).orderBy(order.asc(), F.col(id_col).asc())
    ranked = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    if rank_col:
        return ranked.withColumnRenamed("__rn", rank_col)
    return ranked.drop("__rn")


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    key_col: str = "es_key",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES): per-row uniform u derived from md5(id)
    (engine-portable, reproducible), selection key ln(u)/w — the k LARGEST
    keys are the sample, giving inclusion probability proportional to
    weight.  Rows with weight <= 0 are excluded.

    Scale shape: the key is a per-row projection; top-k lands as
    TakeOrderedAndProject (per-partition heaps, k·partitions driver
    merge) — no global sort.
    """
    from flashml_spark.functions import hashing as H

    key = F.log(H.md5_uniform(F.col(id_col))) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn(key_col, key)
        .orderBy(F.desc(key_col), F.asc(id_col))
        .limit(k)
    )


def deterministic_hash_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Content-addressed train/val/test assignment: the id's md5 maps to a
    bucket in [0, 100); buckets split train/val/test by percentage.  Unlike
    seeded randomSplit, the assignment is a PURE FUNCTION of the id — stable
    across runs, partitionings, Spark versions, and engines (the property
    that keeps eval sets from leaking into training when the corpus is
    re-ingested or appended to).  Same hex-conv machinery as the
    reference's random-variable derivation (``DataReader.scala:34-78``).
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn(out_col, split)


def temperature_mixture(
    df: DataFrame, group_col: str, temperature: float = 0.7
) -> DataFrame:
    """Temperature-scaled mixture weights over a group column — the
    multilingual-sampling rule (mT5 convention: p_g proportional to
    n_g^alpha with alpha = ``temperature``) that upsamples tail
    languages/sources for training without flattening the head entirely:
    temperature=1 keeps natural proportions, temperature->0 approaches
    uniform.

    Output per group: ``n_docs, p_raw, p_temp, epochs`` where ``epochs``
    is the expected number of passes over the group under the scaled
    mixture (p_temp / p_raw).  One hash agg + a 1-row broadcast totals
    frame; |groups|-sized everywhere after the agg.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = counts.withColumn(
        "w", F.pow(F.col("n_docs").cast("double"), F.lit(float(temperature)))
    )
    totals = scaled.agg(
        F.sum("n_docs").cast("double").alias("n_total"),
        F.sum("w").alias("w_total"),
    )
    return (
        scaled.crossJoin(F.broadcast(totals))
        .select(
            group_col,
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("p_raw"),
            F.round(F.col("w") / F.col("w_total"), 6).alias("p_temp"),
            F.round(
                (F.col("w") / F.col("w_total"))
                / (F.col("n_docs") / F.col("n_total")),
                6,
            ).alias("epochs"),
        )
    )


def bottomk_hash_sample(
    df: DataFrame, group_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Deterministic uniform k-per-group sample via the bottom-k (KMV)
    trick: rank rows inside each group by the md5 of their id and keep the
    k smallest.  Because the "randomness" is a pure function of the id,
    the sample is stable across runs, partitionings, engines, and corpus
    appends (a new row only displaces the current max) — the property
    seeded ``sample()`` cannot give.  Same hex machinery as
    :func:`deterministic_hash_split`.

    One keyed window per group (rank over a group-local sort — no global
    ordering anywhere).  Output: ``id_col, group_col, rk``.
    """
    from pyspark.sql import Window

    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.select(id_col, group_col)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
    )


def weighted_interleave(
    df: DataFrame, group_col: str, id_col: str, weights: dict[str, float]
) -> DataFrame:
    """Deterministic weighted interleave of sources into one training
    stream: within each source, rows are ordered by the md5 of their id
    (a stable shuffle); row r of a source with weight w is emitted at
    virtual position (r - 0.5) / w, so a weight-3 source appears 3x as
    often as a weight-1 source, evenly spread rather than in bursts —
    the standard deterministic data-mixing schedule.

    Only sources present in ``weights`` participate.  The position is a
    pure per-row function after one keyed window; consumers sort/limit on
    it (TakeOrderedAndProject for a bounded head — no global sort is
    materialized here).  Output: ``id_col, group_col, pos`` (rounded to 6).
    """
    from pyspark.sql import Window

    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.select(id_col, group_col)
        .where(F.col(group_col).isin(list(weights)))
        .withColumn("rk", F.row_number().over(w).cast("double"))
        .select(
            id_col,
            group_col,
            F.round(
                (F.col("rk") - 0.5) / wmap[F.col(group_col)], 6
            ).alias("pos"),
        )
    )


def split_leakage_audit(
    df: DataFrame,
    group_col: str,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Eval-leakage audit for grouped data: compare ROW-level hash
    splitting (each row assigned independently — the classic mistake on
    session/user data) against GROUP-level splitting (every row follows
    its group's assignment).  Reports, per method, how many groups span
    more than one split — the count that must be ZERO before a user's
    test sessions can't leak into training.

    Two keyed aggregations over (group, split); no windows.  Output:
    ``method, n_groups, leaked_groups``.
    """
    def leak_count(split_source: str, method: str) -> DataFrame:
        labeled = deterministic_hash_split(
            df, split_source, train_pct, val_pct, out_col="__split"
        )
        per_group = labeled.groupBy(group_col).agg(
            F.count_distinct("__split").alias("n_splits")
        )
        return per_group.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum((F.col("n_splits") > 1).cast("long"))
            .cast("bigint")
            .alias("leaked_groups"),
        )

    return leak_count(id_col, "row_hash").unionByName(
        leak_count(group_col, "group_hash")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    id_col: str,
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Per-GROUP deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES, the keyed twin of
    :func:`weighted_sample_topk`): within every group, the k rows with
    the largest ``ln(u)/w`` keys are the sample, u a reproducible
    uniform from md5(id) — inclusion probability proportional to weight,
    identical on any cluster and in the SQL oracle.  Rows with
    weight <= 0 are excluded.

    Scale shape: the key is a per-row projection; selection is a keyed
    window ``row_number() <= k`` — one hash exchange on the group, no
    global sort, no driver state.  Output: the input columns plus
    ``rank_col`` (1 = strongest draw).
    """
    from flashml_spark.functions import hashing as H

    key = F.log(H.md5_uniform(F.col(id_col))) / F.col(weight_col)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__es_key"), F.asc(id_col)
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__es_key", key)
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop("__es_key")
    )


# Poisson(1) inverse-CDF ladder: cumulative P(X <= k) for k = 0..5,
# shared verbatim with the SQL oracle (literals, not library calls) so
# the replicate weights are bit-identical across engines.  P(X > 5) at
# lambda=1 is 6e-4; the ladder caps the weight at 6.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    reps: int = 32,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Poisson bootstrap for the mean: the resampling scheme that works
    on a distributed table because each row draws its replicate
    multiplicity INDEPENDENTLY — Poisson(1) weights approximate
    multinomial resampling without ever shuffling rows into samples
    (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012).  Weights come from the engine-portable
    md5 uniform and a literal inverse-CDF ladder, so every replicate is
    reproducible on any cluster and in the SQL oracle.

    Scale shape: the ``reps``-way fan-out is a per-row ``explode``
    (map-side only — hash agg partial-combines every partition down to
    ``reps`` groups before the one shuffle); the replicate means then
    reduce to ONE summary row.  The normal-theory bootstrap interval
    (point estimate ± z · sd of replicate means) keeps the final
    reduction a plain agg — no cross-engine percentile-interpolation
    hazard.  md5 cost is amortized 4x: each digest of
    ``md5(id || ':' || block)`` yields FOUR 32-bit uniforms (hex slots),
    so 32 replicates cost 8 digests per row, not 32 (the minhash block
    trick; measured 10.7 s -> see SCALE.md at sf0.1).

    Output (1 row): ``n_rows, point_mean, boot_mean, boot_se, ci_lo,
    ci_hi`` (floats rounded to 6).
    """
    n_blocks = (reps + 3) // 4
    base = df.select(
        F.col(value_col).alias("__v"), F.col(id_col).alias("__id")
    ).where(F.col("__v").isNotNull())
    # the reps-way fan-out multiplies PER-PARTITION work: a small table
    # read as one parquet file would run the whole explode+hash on one
    # task (measured: the entire 10.7 s of x187 at sf0.1 was a single
    # task).  Spread only when the scan is under-partitioned — at real
    # scale inputs already have >> cores partitions and this is a no-op.
    par = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    digests = base.select(
        "__v",
        F.array(
            *[
                F.md5(
                    F.concat(
                        F.col("__id").cast("string"), F.lit(f":{b}")
                    ).cast("binary")
                )
                for b in range(n_blocks)
            ]
        ).alias("__dg"),
    )
    r = F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("__r")
    fanned = digests.select("__v", "__dg", r)
    # replicate r reads hex slot r%4 of digest block r//4
    hex8 = F.substring(
        F.element_at(F.col("__dg"), (F.col("__r") / 4).cast("int") + 1),
        (F.col("__r") % 4) * 8 + 1,
        8,
    )
    u = (F.conv(hex8, 16, 10).cast("double") + 1.0) / 4294967296.0
    wexpr = F.lit(len(POISSON1_CDF))
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        wexpr = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(wexpr)
    weighted = fanned.select(
        "__r", F.col("__v"), wexpr.cast("double").alias("__w")
    )
    # exact decimal sums -> the replicate means are BIT-identical across
    # engines regardless of summation order; only then divide in double
    per_rep = weighted.groupBy("__r").agg(
        (
            F.sum((F.col("__w") * F.col("__v")).cast("decimal(28,6)")).cast("double")
            / F.sum(F.col("__w").cast("decimal(28,6)")).cast("double")
        ).alias("__m")
    )
    stats = per_rep.agg(
        F.avg("__m").alias("__bm"), F.stddev_samp("__m").alias("__bse")
    )
    point = df.where(F.col(value_col).isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (
            F.sum(F.col(value_col).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__pm"),
    )
    return point.crossJoin(F.broadcast(stats)).select(
        "n_rows",
        F.round("__pm", 6).alias("point_mean"),
        F.round("__bm", 6).alias("boot_mean"),
        F.round("__bse", 6).alias("boot_se"),
        F.round(F.col("__pm") - F.lit(z) * F.col("__bse"), 6).alias("ci_lo"),
        F.round(F.col("__pm") + F.lit(z) * F.col("__bse"), 6).alias("ci_hi"),
    )


def waterfill_source_allocation(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget_frac: float = 0.9,
    group_domain_hint: int | None = 64,
) -> DataFrame:
    """Equal-share water-filling of a token budget across sources — the
    mixture-rebalancing step of a pretraining pipeline: give every
    source the same allocation L, except sources with less material
    than L, which contribute everything; their shortfall raises L for
    the rest ("waterfall").  L is the unique level with
    ``Σ min(avail_s, L) = budget``.

    Closed form instead of iteration: sort sources by availability
    ascending (group as tie-break, so the written order is total);
    source i (1-based, n total) is exhausted ("capped") iff
    ``avail_i · (n − i + 1) <= budget − cum_before_i`` — the capped set
    is always an ascending prefix — and
    ``L = (budget − Σ capped avail) / n_uncapped``.  Everything after
    the per-source agg runs on the |sources| frame (windows there are
    the documented value-domain-bounded shape).

    **Exact integer arithmetic end-to-end** (r8 VERDICT x250
    hardening): the driver's oracle environment may round
    floating-point output differently across DuckDB releases, so no
    float ever reaches the output.  ``budget_frac`` is quantized ONCE
    to the reduced fraction ``frac_num/frac_den`` (denominator a
    divisor of 10^6); the cap test is the float-free cross-multiplied
    form ``avail·remaining·frac_den <= total·frac_num −
    cum_before·frac_den``; the level is emitted in MICRO-tokens via
    floor integer division
    ``level_micro = (total·frac_num·(10^6/frac_den) − capped_sum·10^6)
    div n_uncapped`` — identical BIGINT ops in Spark (``div``) and
    DuckDB (``//``), both truncating and both operands provably
    non-negative here, so trunc == floor in both.  Overflow bound:
    intermediates stay under 2^63 for corpora up to ~9·10^12 total
    tokens (≈35 TB of text) with frac_den ≤ 10; beyond that, widen the
    same expressions to DECIMAL(38,0).

    ``group_domain_hint`` is the caller's promise of an upper bound on
    the group domain (the ``rows_hint`` contract): the mixture use case
    has a few dozen sources, so the default takes the tiny-frame fast
    path; rebalancing over an UNBOUNDED domain (per-URL-domain caps)
    must pass ``None`` to engage the range-partitioned cumsum — the
    result is bit-identical either way, only the plan changes.

    Output: ``<group_col>, avail_tokens, alloc_micro_tokens, capped``
    ordered by group; ``alloc_micro_tokens`` is the allocation in
    millionths of a token (BIGINT, exact).
    """
    from fractions import Fraction

    from flashml_spark.functions.windows import global_cumsum

    frac = Fraction(int(round(budget_frac * 1_000_000)), 1_000_000)
    frac_num, frac_den = frac.numerator, frac.denominator
    scale_mult = 1_000_000 // frac_den  # exact: frac_den | 10^6

    per = df.groupBy(group_col).agg(
        F.sum(F.col(weight_col).cast("bigint")).alias("avail_tokens")
    )
    cum = global_cumsum(
        per.withColumn("__one", F.lit(1)),
        "avail_tokens",
        ["avail_tokens", "__one"],
        rows_hint=group_domain_hint,
        prefix="__c_",
        tiebreak_cols=[group_col],
    )
    totals = per.agg(
        F.sum("avail_tokens").alias("__total"),
        F.count(F.lit(1)).alias("__n"),
    )
    staged = cum.crossJoin(F.broadcast(totals)).select(
        group_col,
        "avail_tokens",
        (F.col("__c_avail_tokens") - F.col("avail_tokens")).alias(
            "__cum_before"
        ),
        (F.col("__n") - F.col("__c___one") + F.lit(1).cast("bigint")).alias(
            "__remaining"
        ),
        "__total",
        "__n",
    )
    flagged = staged.withColumn(
        "capped",
        F.when(
            F.col("avail_tokens") * F.col("__remaining") * F.lit(frac_den)
            <= F.col("__total") * F.lit(frac_num)
            - F.col("__cum_before") * F.lit(frac_den),
            1,
        ).otherwise(0),
    )
    caps = flagged.agg(
        F.sum(
            F.when(F.col("capped") == 1, F.col("avail_tokens")).otherwise(0)
        ).alias("__capped_sum"),
        F.sum("capped").cast("bigint").alias("__n_capped"),
        F.first("__total").alias("__t"),
        F.first("__n").alias("__nn"),
    ).select(
        F.when(
            F.col("__nn") > F.col("__n_capped"),
            F.expr(
                f"(__t * {frac_num}L * {scale_mult}L"
                " - __capped_sum * 1000000L)"
                " div (__nn - __n_capped)"
            ),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("__level_micro")
    )
    return (
        flagged.crossJoin(F.broadcast(caps))
        .select(
            group_col,
            "avail_tokens",
            F.when(
                F.col("capped") == 1,
                F.col("avail_tokens") * F.lit(1_000_000).cast("bigint"),
            )
            .otherwise(F.col("__level_micro"))
            .cast("bigint")
            .alias("alloc_micro_tokens"),
            "capped",
        )
        .orderBy(group_col)
    )


def group_fold_assignment(
    df: DataFrame, group_col: str, n_folds: int = 5
) -> DataFrame:
    """GroupKFold-style fold assignment with an in-band integrity proof:
    ``fold = md5(group) % n_folds`` keeps every row of a group in one
    fold (the leakage-safe split for user-level data), and the output
    carries ``max_folds_per_group`` measured FROM THE DATA — 1 certifies
    no group straddles folds, instead of trusting the construction.

    Scale shape: one keyed agg to the |groups| frame, one |folds| agg,
    a 1-row integrity scalar broadcast.  Output: ``fold, n_groups,
    n_rows, max_folds_per_group`` ordered by fold.
    """
    from flashml_spark.functions import hashing as H

    folded = df.select(
        F.col(group_col).alias("__g"),
        (H.md5_long(F.col(group_col).cast("string"), 8) % n_folds)
        .cast("int")
        .alias("fold"),
    )
    per_group = folded.groupBy("__g").agg(
        F.count_distinct("fold").alias("__nf"),
        F.count(F.lit(1)).alias("__rows"),
        F.min("fold").alias("fold"),
    )
    integrity = per_group.agg(
        F.max("__nf").cast("int").alias("max_folds_per_group")
    )
    return (
        per_group.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("__rows").cast("bigint").alias("n_rows"),
        )
        .crossJoin(F.broadcast(integrity))
        .orderBy("fold")
    )


def embargo_split_audit(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    train_frac: float = 0.7,
    embargo_days: float = 1.0,
) -> DataFrame:
    """Time-based split with an embargo gap (the leakage control for
    temporally-correlated data: rows inside ``embargo_days`` after the
    cutoff belong to NEITHER side) and an honest leakage readout: how
    many groups appear on both sides anyway (expected nonzero for
    long-lived users — report it, don't hide it).

    Cutoff arithmetic runs on epoch seconds as doubles in one written
    operation order (``cut = mn + frac·(mx−mn)``), so both engines pick
    identical boundaries.  Scale shape: 1-row bounds broadcast onto one
    scan; the leakage count is a |groups| keyed agg.  Output (1 row):
    ``n_train, n_embargoed, n_test, n_groups_train, n_groups_test,
    n_leaky_groups``.
    """
    e = F.col(ts_col).cast("double")
    bounds = df.agg(
        F.min(e).alias("__mn"), F.max(e).alias("__mx")
    )
    staged = df.select(e.alias("__e"), F.col(group_col).alias("__g")).crossJoin(
        F.broadcast(bounds)
    )
    cut = F.col("__mn") + F.lit(float(train_frac)) * (
        F.col("__mx") - F.col("__mn")
    )
    emb_end = cut + F.lit(float(embargo_days) * 86400.0)
    tagged = staged.select(
        "__g",
        F.when(F.col("__e") <= cut, F.lit("train"))
        .when(F.col("__e") <= emb_end, F.lit("embargo"))
        .otherwise(F.lit("test"))
        .alias("__side"),
    )
    per_group = tagged.groupBy("__g").agg(
        F.max(F.when(F.col("__side") == "train", 1).otherwise(0)).alias("__in_tr"),
        F.max(F.when(F.col("__side") == "test", 1).otherwise(0)).alias("__in_te"),
    )
    counts = tagged.agg(
        F.sum(F.when(F.col("__side") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("__side") == "embargo", 1).otherwise(0))
        .cast("bigint")
        .alias("n_embargoed"),
        F.sum(F.when(F.col("__side") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
    )
    groups = per_group.agg(
        F.sum("__in_tr").cast("bigint").alias("n_groups_train"),
        F.sum("__in_te").cast("bigint").alias("n_groups_test"),
        F.sum(F.col("__in_tr") * F.col("__in_te"))
        .cast("bigint")
        .alias("n_leaky_groups"),
    )
    return counts.crossJoin(F.broadcast(groups))


def temperature_mixture_weights(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual/multi-source
    sampling rule of XLM-style pretraining): sampling weight
    ``p_s ∝ n_s^alpha`` flattens the natural distribution toward the
    tail (alpha < 1 upsamples small sources), and the effective epochs
    per source — ``budget·p_s / n_s`` — is the over/under-sampling
    factor the schedule implies, the number a pipeline checks BEFORE
    training (eff_epochs ≫ 1 on a small source means it will be
    memorized).

    Exactness: the default ``alpha=0.5`` (temperature 2) computes
    ``n^alpha`` as ``sqrt(n)`` — correctly-rounded IEEE in every engine,
    unlike the general ``pow`` — over the exact BIGINT per-source sums,
    then quantizes each scaled mass to DECIMAL(18,6) so the total is an
    ORDER-FREE exact sum (a float Σ would depend on partition order);
    the final divisions + ROUND(6) follow one written operation order.
    Other alphas take float ``pow`` (documented cross-engine ulp risk).

    Scale shape: one keyed agg to the |sources| frame, a 1-row total
    broadcast.  Output: ``<group_col>, n_tokens, weight, eff_epochs``
    ordered by group.
    """
    per = df.groupBy(group_col).agg(
        F.sum(F.col(weight_col).cast("bigint")).alias("n_tokens")
    )
    scaled = (
        F.sqrt(F.col("n_tokens").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))
    )
    per = per.withColumn("__s", F.round(scaled, 6).cast("decimal(18,6)"))
    tot = per.agg(
        F.sum("__s").alias("__ssum"),  # exact decimal: order-free
        F.sum("n_tokens").cast("double").alias("__ntot"),
    )
    s_over = F.col("__s").cast("double") / F.col("__ssum").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "n_tokens",
            F.round(s_over, 6).alias("weight"),
            F.round(
                F.lit(float(budget_frac))
                * F.col("__ntot")
                * s_over
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("eff_epochs"),
        )
        .orderBy(group_col)
    )


def constrained_waterfill_allocation(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget_frac: float = 0.9,
    floor_frac: float = 0.02,
    cap_frac: float = 0.5,
    group_domain_hint: int | None = 64,
) -> DataFrame:
    """Water-filling with per-source FLOORS and CAPS — the mixture
    policy real pretraining recipes ship ("every source keeps at least
    2% of its material; no source exceeds 50% of the budget"):

      1. every source first receives ``floor_s = avail_s · floor_frac``
         (availability-proportional, so floors are always feasible and
         ``Σ floor_s <= budget`` holds whenever ``floor_frac <=
         budget_frac`` — validated);
      2. each source's TOTAL allocation is bounded by
         ``cap = cap_frac · budget``;
      3. the residual budget waterfills over the residual
         availabilities ``max(0, min(avail, cap) − floor)`` with the
         SAME sorted-prefix closed form as
         :func:`waterfill_source_allocation` — clamping reduces the
         constrained problem to the unconstrained one on transformed
         inputs.

    Exactness mirrors x250: every policy quantity is an exact integer
    in MICRO-tokens — ``floor_micro = avail · round(floor_frac·10^6)``;
    the cap is floor-quantized once,
    ``cap_micro = (total · cap_num · 10^6) div cap_den`` with the
    cap-times-budget fraction reduced exactly; the residual cap test is
    the cross-multiplied integer form and the residual level is a
    single floor division.  No float anywhere; output hashes cannot
    ride on an engine's round mode.

    Output: ``<group_col>, avail_tokens, floor_micro_tokens,
    alloc_micro_tokens, at_bound`` ordered by group —
    ``alloc_micro_tokens`` includes the floor; ``at_bound`` = 1 when
    the source's residual was fully consumed (exhausted OR cap-hit).
    """
    from fractions import Fraction

    from flashml_spark.functions.windows import global_cumsum

    if not (0.0 <= floor_frac <= budget_frac <= 1.0):
        raise ValueError(
            f"need 0 <= floor_frac <= budget_frac <= 1, got "
            f"{floor_frac}, {budget_frac}"
        )
    if floor_frac > cap_frac * budget_frac:
        # a source holding ~the whole corpus would receive
        # floor ≈ floor_frac·total > cap = cap_frac·budget_frac·total,
        # violating the documented per-source cap (r9 ADVICE item)
        raise ValueError(
            f"need floor_frac <= cap_frac*budget_frac so floors can never "
            f"exceed the per-source cap, got {floor_frac} > "
            f"{cap_frac} * {budget_frac}"
        )
    floor_micro = int(round(floor_frac * 1_000_000))
    budget_q = Fraction(int(round(budget_frac * 1_000_000)), 1_000_000)
    capxb = Fraction(int(round(cap_frac * 1_000_000)), 1_000_000) * budget_q
    bq_mult = 1_000_000 * budget_q.numerator // budget_q.denominator
    cb_num, cb_den = capxb.numerator, capxb.denominator

    per = df.groupBy(group_col).agg(
        F.sum(F.col(weight_col).cast("bigint")).alias("avail_tokens")
    )
    totals = per.agg(
        F.sum("avail_tokens").alias("__total"),
        F.count(F.lit(1)).alias("__n"),
    )
    staged = per.crossJoin(F.broadcast(totals)).select(
        group_col,
        "avail_tokens",
        (F.col("avail_tokens") * F.lit(floor_micro)).alias("__floor"),
        F.greatest(
            F.least(
                F.col("avail_tokens") * F.lit(1_000_000).cast("bigint"),
                F.expr(f"(__total * {cb_num}L * 1000000L) div {cb_den}L"),
            )
            - F.col("avail_tokens") * F.lit(floor_micro),
            F.lit(0).cast("bigint"),
        ).alias("__resid"),
        # residual budget: budget_micro − Σ floors = total·(bq − floor)·10^6
        (F.col("__total") * F.lit(bq_mult - floor_micro)).alias("__rbudget"),
        "__n",
    )
    cum = global_cumsum(
        staged.withColumn("__one", F.lit(1)),
        "__resid",
        ["__resid", "__one"],
        rows_hint=group_domain_hint,
        prefix="__c_",
        tiebreak_cols=[group_col],
    )
    flagged = cum.withColumn(
        "at_bound",
        F.when(
            F.col("__resid")
            * (F.col("__n") - F.col("__c___one") + F.lit(1).cast("bigint"))
            <= F.col("__rbudget")
            - (F.col("__c___resid") - F.col("__resid")),
            1,
        ).otherwise(0),
    )
    caps = flagged.agg(
        F.sum(
            F.when(F.col("at_bound") == 1, F.col("__resid")).otherwise(0)
        ).alias("__bound_sum"),
        F.sum("at_bound").cast("bigint").alias("__n_bound"),
        F.first("__rbudget").alias("__rb"),
        F.first("__n").alias("__nn"),
    ).select(
        F.when(
            F.col("__nn") > F.col("__n_bound"),
            F.expr("(__rb - __bound_sum) div (__nn - __n_bound)"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("__level")
    )
    return (
        flagged.crossJoin(F.broadcast(caps))
        .select(
            group_col,
            "avail_tokens",
            F.col("__floor").alias("floor_micro_tokens"),
            (
                F.col("__floor")
                + F.when(F.col("at_bound") == 1, F.col("__resid")).otherwise(
                    F.least(F.col("__level"), F.col("__resid"))
                )
            )
            .cast("bigint")
            .alias("alloc_micro_tokens"),
            "at_bound",
        )
        .orderBy(group_col)
    )
