"""``run.py`` works from any working directory, and outside a full
checkout it fails without printing a result."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# An Arrow UDF whose worker must import the engine package: it fails with
# ModuleNotFoundError unless the repository is on the workers' PYTHONPATH.
_UDF_PROBE = f"""
import sys
sys.path.insert(0, {ROOT!r})
from perfbench import run
run.environment()
from pyspark.sql.functions import pandas_udf
from mlops_realtime_data_ingestion_spark.functions import hashing_pandas as hp
from mlops_realtime_data_ingestion_spark.session import get_spark, hard_reset_jvm
spark = get_spark("perfbench-cwd-probe")
h = pandas_udf(lambda s: s.map(hp.str_hash), "long")
print(spark.createDataFrame([("a",), ("b",)], "t string").select(h("t").alias("h")).count())
hard_reset_jvm()
"""


def test_spark_workers_import_the_engine_from_another_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run([sys.executable, "-c", _UDF_PROBE], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=170)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "2"


def test_fails_without_a_result_outside_a_full_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "stream_ingest", "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
