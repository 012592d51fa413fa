"""Python-worker kernels run from any working directory.

The session pickles the package by value, so executors never import
``scalable_data_ingestion_spark``. The check runs in a fresh process whose
cwd is a temp dir and whose environment has no PYTHONPATH: only the
driver can import the package, through its own sys.path.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]

# Queries whose mapInArrow kernels reference package functions.
KERNEL_QUERIES = (
    "ml_knn_loo_accuracy",
    "sim_abtt_recall",
    "sim_rq_distortion",
    "dd_embedding_neardup_pairs",
)

SCRIPT = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from scalable_data_ingestion_spark import registry
from scalable_data_ingestion_spark.session import get_spark

spark = get_spark("worker-portability")
spark.sparkContext.setLogLevel("ERROR")
queries = registry.queries()
for name in {KERNEL_QUERIES!r}:
    print(name, queries[name](spark, {SF_SMOKE!r}).count(), flush=True)
spark.stop()
"""


def test_kernels_run_without_package_on_worker_path(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    counts = dict(line.split() for line in proc.stdout.splitlines())
    assert set(counts) == set(KERNEL_QUERIES)
    assert all(int(c) > 0 for c in counts.values()), counts
