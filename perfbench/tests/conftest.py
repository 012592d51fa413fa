"""Shared fixtures for the benchmark's own tests.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The Spark session is built here with the event log on, so it must be
the first session of the test process.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def event_log_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="session")
def spark(event_log_dir):
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        pytest.skip("needs a process whose JVM is not started yet")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the same outside-the-program switch run.py uses for traced runs
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{event_log_dir} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )
    from scalable_data_ingestion_spark.session import get_spark

    session = get_spark("perfbench-tests")
    yield session
    session.stop()
