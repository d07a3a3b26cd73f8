"""Fixtures for the benchmark's own tests.

Run from the repository root with ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from perfbench import run

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    run.environment()
    from mlops_realtime_data_ingestion_spark.session import get_spark, hard_reset_jvm
    from perfbench.workloads import QUIET

    session = get_spark("perfbench-tests", extra_conf=QUIET)
    yield session
    hard_reset_jvm()


@pytest.fixture(scope="session")
def tiny_tables(tmp_path_factory):
    """The ten test-data tables at sf0.001, from seed 1."""
    from perfbench import inputs

    path = str(tmp_path_factory.mktemp("sf0.001"))
    inputs.write_tables(path, 1, scale=0.001, docs=40, vectors=40)
    return path
