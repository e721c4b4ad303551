"""Full driver-contract replay: run EVERY registered query at sf0.01
(the driver's correctness-gate scale) and compare against its DuckDB
oracle with the driver's own normalization (sorted column names, row
count, order-insensitive values, floats rounded to 6).

Usage:  python scripts/verify_replay.py [sf_dir] [name_prefix ...]
        (no args = all queries at /root/testdata/sf0.01)

Prints one line per query and a final PASS/FAIL summary; exit 1 on any
mismatch.  This IS the pre-round verify recipe
(.claude/skills/verify/SKILL.md).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

import __spark_entry__ as e
from flashml_spark.session import get_spark
from flashml_spark.sources.readers import TESTDATA_TABLES
from tests.conftest import assert_frames_match


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    spark = get_spark("verify-replay", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_rows = e.entry(spark).count()
    print(f"entry() smoke: {n_rows} rows")

    oracles = e.oracle_sql()
    failed: list[str] = []
    n_pass = n_rows_only = 0
    for name, fn in e.queries().items():
        if only and not any(name.startswith(p) for p in only):
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            sql = oracles.get(name)
            if sql is None:
                cnt = sdf.count()
                n_rows_only += 1
                status = f"rows-only ({cnt} rows)"
            else:
                assert_frames_match(sdf, con, sql)
                n_pass += 1
                status = "pass"
        except Exception as ex:  # noqa: BLE001 - report and continue
            failed.append(name)
            status = f"FAIL: {type(ex).__name__}: {str(ex)[:200]}"
        print(f"{name}: {status} [{time.perf_counter() - t0:.2f}s]", flush=True)

    print(
        f"\nsummary: {n_pass} oracle-pass, {n_rows_only} rows-only, "
        f"{len(failed)} failed @ {sf_dir}"
    )
    if failed:
        print("failed:", failed)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
