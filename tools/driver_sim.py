"""Simulate the driver's verify: plain SparkSession (none of the
engine's session configs), entry() smoke at sf0.001, then the named
queries() entries (all of them when none are named) hash-compared
against oracle_sql() via DuckDB; queries without an oracle get a
row count only.

Run: python tools/driver_sim.py [sf_dir] [query ...]"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as e
from tests.oracle_harness import compare_spark_duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAMES = sys.argv[2:]


def main() -> int:
    # deliberately a bare session, like an external harness would build
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = e.entry(spark).collect()
    print(f"entry() smoke: {len(rows)} rows, sample={rows[0] if rows else None}")
    assert len(rows) > 0

    q = e.queries()
    o = e.oracle_sql()
    print(f"{len(q)} queries, {len(o)} with oracle, sf={SF}")
    failed = []
    for name in NAMES or sorted(q):
        if name not in q:
            print(f"  UNKNOWN {name}")
            failed.append(name)
            continue
        t0 = time.time()
        df = q[name](spark, SF)
        if name in o:
            ok, msg = compare_spark_duckdb(df, o[name], SF)
        else:
            ok, msg = True, f"rows-only: {df.count()} rows"
        dt = time.time() - t0
        print(f"  {'PASS' if ok else 'FAIL'} {name} ({dt:.1f}s) {msg.splitlines()[0]}",
              flush=True)
        if not ok:
            failed.append(name)
            print("    " + "\n    ".join(msg.splitlines()[1:10]))
    print(f"{'ALL PASS' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
