"""Round-8 contract fixes (r07 VERDICT items 1-3):

- the plan-audit single-partition detector counts on the EXECUTED plan
  string and demonstrably fires on a synthetic offender (the r07 judge
  proved the old formatted-explain substring could never occur);
- ``global_row_number`` / ``global_running_max_exclusive`` are
  bit-identical to the single-partition windows they replace;
- x241's negative-pick id index and x191's skyline sweep no longer
  funnel raw corpus rows through one task.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flashml_spark.queries import QUERIES
from tests.conftest import SF_DIR

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --- the detector itself ----------------------------------------------------


def test_plan_audit_detector_fires_on_synthetic_offender(spark):
    import plan_audit

    df = spark.range(0, 1000, 1, 8).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    counts = plan_audit.audit_counts(df)
    # the executed plan contains a SinglePartition exchange AND the
    # Window-on-single-partition shape — both detectors must see it
    assert counts["single_part"] >= 1
    assert counts["sp_window_sort"] >= 1


def test_plan_audit_detector_clean_on_partitioned_window(spark):
    import plan_audit

    df = spark.range(0, 1000, 1, 8).withColumn(
        "rn", F.row_number().over(Window.partitionBy(F.col("id") % 7).orderBy("id"))
    )
    counts = plan_audit.audit_counts(df)
    assert counts["sp_window_sort"] == 0


def test_plan_audit_detector_counts_scalar_agg_but_not_as_window(spark):
    import plan_audit

    df = spark.range(0, 1000, 1, 8).agg(F.sum("id").alias("s"))
    counts = plan_audit.audit_counts(df)
    assert counts["single_part"] >= 1  # final scalar-agg partial: benign
    assert counts["sp_window_sort"] == 0  # ...and not flagged as a window


# --- range-partitioned helpers == single-partition windows ------------------


def _sample(spark):
    # duplicate order keys + nulls in the value column exercise ties
    rows = [(i % 37, float((i * 31) % 101) if i % 11 else None, i) for i in range(500)]
    return spark.createDataFrame(rows, "k int, v double, uid int")


def test_global_row_number_matches_single_partition_window(spark):
    from flashml_spark.functions.windows import global_row_number

    df = _sample(spark).select(F.col("uid").alias("cand"))
    got = _rows(
        global_row_number(df, ["cand"], out_col="rn"), "cand", "rn"
    )
    want = _rows(
        df.withColumn("rn", F.row_number().over(Window.orderBy("cand")).cast("long")),
        "cand",
        "rn",
    )
    assert got == want


def test_global_running_max_exclusive_matches_single_partition_window(spark):
    from flashml_spark.functions.windows import global_running_max_exclusive

    # unique order keys: the exclusive-preceding max is deterministic
    df = _sample(spark).select(F.col("uid").alias("o"), "v")
    got = _rows(global_running_max_exclusive(df, "o", "v", "m"), "o", "m")
    w = Window.orderBy("o").rowsBetween(Window.unboundedPreceding, -1)
    want = _rows(df.withColumn("m", F.max("v").over(w)), "o", "m")
    assert got == want


def test_global_running_max_exclusive_all_null_values(spark):
    from flashml_spark.functions.windows import global_running_max_exclusive

    df = (
        _sample(spark)
        .select(F.col("uid").alias("o"))
        .withColumn("v", F.lit(None).cast("double"))
    )
    out = global_running_max_exclusive(df, "o", "v", "m")
    assert all(r["m"] is None for r in out.collect())


# --- the two fixed queries' executed plans ----------------------------------


@pytest.mark.parametrize(
    "name", ["x241_contrastive_triplets", "x191_skyline_parts"]
)
def test_fixed_queries_have_no_single_partition_window(spark, name):
    import plan_audit

    df = QUERIES[name][0](spark, SF_DIR)
    counts = plan_audit.audit_counts(df)
    assert counts["sp_window_sort"] == 0, plan_audit.executed_plan_string(df)
