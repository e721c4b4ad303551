from __future__ import annotations

import math
import os

import duckdb
import pytest

from flashml_spark.session import get_spark
from flashml_spark.sources.readers import TESTDATA_TABLES

SF_DIR = os.environ.get("FLASHML_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("flashml-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
                  shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def normalize(rows, ndigits=6):
    """Sort-insensitive canonical form of a result set (mirrors the driver's
    order-insensitive value compare; floats rounded)."""
    def canon(v):
        if v is None:
            return ("\x00null",)
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return (f"{round(v, ndigits):.{ndigits}f}",)
        if isinstance(v, bool):
            return (str(int(v)),)
        return (str(v),)

    return sorted(tuple(canon(v) for v in row) for row in rows)


def jobs_started(spark, fn) -> int:
    """How many Spark jobs ``fn()`` starts, from the context's job-id
    high-water mark before and after the call.  Job ids are sequential
    across threads, so jobs started from ``fn``'s own thread pools count
    too (a job-group count misses them: pool threads do not inherit the
    caller's group)."""
    next_job_id = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    before = next_job_id()
    fn()
    return next_job_id() - before


def assert_frames_match(spark_df, ddb_con, sql, ndigits=6):
    """Compare a Spark DataFrame against a DuckDB oracle query: column
    names (sorted), row count, and order-insensitive values."""
    oracle = ddb_con.execute(sql)
    o_cols = [d[0] for d in oracle.description]
    o_rows = oracle.fetchall()

    s_cols = spark_df.columns
    assert sorted(s_cols) == sorted(o_cols), f"columns differ: {s_cols} vs {o_cols}"
    # reorder spark columns to oracle's sorted order for value compare
    order = sorted(o_cols)
    s_rows = [tuple(row[c] for c in order) for row in spark_df.collect()]
    o_idx = [o_cols.index(c) for c in order]
    o_rows = [tuple(r[i] for i in o_idx) for r in o_rows]

    assert len(s_rows) == len(o_rows), f"row counts differ: {len(s_rows)} vs {len(o_rows)}"
    sn, on = normalize(s_rows, ndigits), normalize(o_rows, ndigits)
    mismatches = [(a, b) for a, b in zip(sn, on) if a != b]
    assert not mismatches, f"value mismatch (first 5): {mismatches[:5]}"
