"""Per-query measurement probe for optimization rounds (guide §1).

Times named registry queries at a given data dir with bench.py's
``_timed`` (best-of-N noop-sink writes in one warmed session), so every
run carries its build time, eager jobs and the write's stage counters.
Optionally captures each query's formatted plan.

Usage:
  python tools/query_probe.py DATA_DIR QUERY [QUERY...] [--runs N]
      [--plan-dir DIR] [--plan-suffix SUFFIX]

Prints one JSON line per query:
  {"query": ..., "best": ..., "build": ..., "runs": [{per-run record}, ...]}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("data_dir")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--plan-suffix", default="")
    args = ap.parse_args()

    from bench import _timed, _warm_scan, _warm_session
    from mlops_realtime_data_ingestion_spark.plans.registry import all_specs
    from mlops_realtime_data_ingestion_spark.session import get_spark

    spark = get_spark("query-probe")
    _warm_session(spark)
    _warm_scan(spark, args.data_dir)
    specs = all_specs()

    rc = 0
    for name in args.queries:
        spec = specs.get(name)
        if spec is None:
            print(json.dumps({"query": name, "error": "unknown"}))
            rc = 1
            continue
        rec: dict = {
            "query": name,
            **_timed(
                spark, partial(spec.fn, spark, args.data_dir), args.runs,
                f"probe:{name}",
            ),
        }
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = spec.fn(spark, args.data_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out = os.path.join(
                args.plan_dir, f"{name}{args.plan_suffix}.txt"
            )
            with open(out, "w") as f:
                f.write(plan)
            rec["plan"] = out
        print(json.dumps(rec), flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
