"""The package's environment variables, listed once.

Every ``os.environ`` / ``getenv`` read in the package source must name
its variable with a string literal, and the set of names must be exactly
``ENV_VARS``: adding a knob means editing this list, in review.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from scalable_data_ingestion_spark.session import default_parallelism

PACKAGE = Path(__file__).resolve().parents[1] / "scalable_data_ingestion_spark"

ENV_VARS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_PJ_CANDIDATE_CAP",
}

ACCESS = re.compile(r"\b(?:environ|getenv)\b")
KEYED = re.compile(
    r"""\b(?:environ(?:\.get|\.setdefault|\.pop)?\s*[(\[]|getenv\s*\()\s*["'](\w+)["']"""
)


def test_package_reads_only_the_listed_env_vars():
    names: set[str] = set()
    unkeyed: list[str] = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            keys = KEYED.findall(line)
            names.update(keys)
            if len(ACCESS.findall(line)) > len(keys):
                unkeyed.append(f"{path.relative_to(PACKAGE)}:{lineno}: {line.strip()}")
    assert not unkeyed, "env reads without a literal name:\n" + "\n".join(unkeyed)
    assert names == ENV_VARS


def test_cpus_default_to_the_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
