"""Skew-handling utilities: salting for hot keys.

AQE's skew-join splitting covers sort-merge joins; these helpers cover
the aggregation shapes AQE can't fix — non-algebraic aggregates
(count-distinct, collect-like) where one hot key funnels into a single
reducer.  Pattern: two-stage shuffle, first on (key, salt) — the hot
key's rows spread across ``n_salts`` reducers — then merge the tiny
per-salt partials on the key alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count_distinct(
    df: DataFrame, key_cols: list[str], value_col: str, n_salts: int = 16
) -> DataFrame:
    """``COUNT(DISTINCT value) GROUP BY key`` without a hot-key reducer.

    Plain count-distinct shuffles every (key, value) row to the key's one
    reducer.  Stage 1 dedups on (key, salt-by-value-hash, value) — the
    hot key spreads; stage 2 sums per-salt distinct counts (values were
    routed to salts by hash, so per-salt distinct sets are disjoint).
    """
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts))
    per_salt = (
        df.select(*key_cols, salt.alias("__salt"), F.col(value_col).alias("__v"))
        .distinct()  # shuffles on all cols — no hot single key
        .groupBy(*key_cols, "__salt")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    return per_salt.groupBy(*key_cols).agg(
        F.sum("__d").cast("bigint").alias(f"n_distinct_{value_col}")
    )


def salted_collect_set(
    df: DataFrame, key_cols: list[str], value_col: str, n_salts: int = 16,
    max_values: int | None = None,
) -> DataFrame:
    """``collect_set(value) GROUP BY key`` with the hot key spread across
    salt reducers first, then a cheap merge of ``n_salts`` small arrays.
    ``max_values`` truncates each per-salt set (bounded output for
    heavy-hitter keys)."""
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts))
    per_salt = (
        df.select(*key_cols, salt.alias("__salt"), F.col(value_col).alias("__v"))
        .groupBy(*key_cols, "__salt")
        .agg(F.collect_set("__v").alias("__vs"))
    )
    if max_values is not None:
        per_salt = per_salt.withColumn("__vs", F.slice("__vs", 1, max_values))
    merged = per_salt.groupBy(*key_cols).agg(
        F.array_sort(F.flatten(F.collect_list("__vs"))).alias(f"{value_col}_set")
    )
    if max_values is not None:
        merged = merged.withColumn(
            f"{value_col}_set", F.slice(f"{value_col}_set", 1, max_values)
        )
    return merged


def salted_join_keys(
    big: DataFrame, small: DataFrame, key: str | Column, n_salts: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Prepare a skew-safe equi-join: salt the big side's key, replicate
    the small side once per salt.  Join the returned frames on the
    returned key list.  (Prefer ``F.broadcast`` when the small side fits;
    prefer AQE skew-join for sort-merge; this is the manual fallback for
    persistent heavy hitters.)"""
    key_col = key if isinstance(key, str) else None
    b = big.withColumn("__salt", (F.rand(seed) * n_salts).cast("int"))
    s = small.crossJoin(
        F.broadcast(
            b.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    join_keys = ([key_col] if key_col else []) + ["__salt"]
    return b, s, join_keys
