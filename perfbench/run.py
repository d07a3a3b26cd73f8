"""Benchmark entry point.

Usage (from any working directory):

    python3 perfbench/run.py --workload batch_pass --seed 1 --seconds 10 --trace 0

Runs one workload (``stream_ingest`` or ``batch_pass``) and prints, as the last line of standard output, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Everything the run writes stays under
``<repo>/.perfbench_work``; the spans of a traced run are written there
too, once, at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def environment() -> None:
    """Settings that must be in place before the JVM and the Python
    workers start: the repository on the workers' import path, Spark's
    parallelism, and every scratch directory inside the checkout."""
    scratch = os.path.join(ROOT, ".perfbench_work", "tmp")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={scratch}"
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = None  # re-read TMPDIR on the next call
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    environment()
    from perfbench.workloads import WORKLOADS, run_workload

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    result = run_workload(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
