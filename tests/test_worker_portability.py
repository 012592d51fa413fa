"""Python-worker kernels run from any working directory, under any session.

Importing the package pickles it by value, so executors never import
``scalable_data_ingestion_spark``. The check runs in a fresh process whose
cwd is a temp dir and whose environment has no PYTHONPATH: only the
driver can import the package, through its own sys.path. It runs once
under ``get_spark`` and once under a plain ``SparkSession`` (the shape a
caller that never touches ``session.py`` builds).
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
    "emb_kmeans_assign",
    "dd_embedding_neardup_pairs",
)

SESSIONS = {
    "get_spark": (
        "from scalable_data_ingestion_spark.session import get_spark\n"
        "spark = get_spark('worker-portability')"
    ),
    "plain": (
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]')"
        ".appName('worker-portability').getOrCreate()"
    ),
}

SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from scalable_data_ingestion_spark import registry
{session}
spark.sparkContext.setLogLevel("ERROR")
queries = registry.queries()
for name in {names!r}:
    print(name, queries[name](spark, {sf!r}).count(), flush=True)
spark.stop()
"""


def _run_kernels(tmp_path, session: str) -> None:
    script = SCRIPT.format(
        repo=str(REPO), session=SESSIONS[session], names=KERNEL_QUERIES, sf=SF_SMOKE
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
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


def test_kernels_run_without_package_on_worker_path(tmp_path):
    _run_kernels(tmp_path, "get_spark")


def test_kernels_run_under_a_plain_session(tmp_path):
    _run_kernels(tmp_path, "plain")
