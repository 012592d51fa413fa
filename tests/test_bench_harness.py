"""bench.py is the one timer of registered queries outside perfbench/.

The source scans need no Spark. One subprocess run checks the
``--only``/``--runs`` record and that a subset run leaves BENCH.json as
it was.
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
BENCH = REPO / "bench.py"

_SPEC = importlib.util.spec_from_file_location("bench", BENCH)
assert _SPEC is not None and _SPEC.loader is not None
bench = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench)


def _writes_noop_sink(path: Path) -> bool:
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "format"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "noop"
        ):
            return True
    return False


def test_bench_is_the_only_noop_sink_writer_outside_perfbench():
    writers = {
        str(p.relative_to(REPO))
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") or part == "perfbench" for part in p.relative_to(REPO).parts)
        and _writes_noop_sink(p)
    }
    assert writers == {"bench.py"}


def test_headline_order_and_subtotal_prefixes_are_pinned():
    # The driver contract: these 269 slots in this order, and each
    # queries_r<N>_set_total summing the same prefix as every earlier record.
    names = bench.HEADLINE
    assert len(names) == 269 == len(set(names))
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest.startswith("ae1ba3186adae96b")
    assert bench.SUBTOTALS == {
        "queries_r2_set_total": 17,
        "queries_r3_set_total": 21,
        "queries_r4_set_total": 25,
        "queries_r5_set_total": 29,
        "queries_r6_set_total": 33,
        "queries_r7_set_total": 40,
        "queries_r8_set_total": 56,
        "queries_r9_set_total": 78,
    }
    assert bench.R2_SET == names[:17]


def test_sf_parses_from_the_directory_name():
    assert bench.sf_of("/root/testdata/sf0.1") == 0.1
    assert bench.sf_of("/root/testdata/sf0.001/") == 0.001
    assert bench.sf_of(".sfx10") == -1.0
    assert bench.sf_of("/data/big") == -1.0


def _bench(tmp_path: Path, *args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001", SPARK_GRAFT_CPUS="2")
    return subprocess.run(
        [sys.executable, str(BENCH), *args],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_only_and_runs_print_a_record_and_leave_bench_json_alone(tmp_path):
    before = (REPO / "BENCH.json").read_bytes()

    bad = _bench(tmp_path, "--only", "q01_pricing_summary,no_such_query")
    assert bad.returncode == 2
    assert "no_such_query" in bad.stderr
    assert _bench(tmp_path, "--only", "").returncode == 2

    ok = _bench(tmp_path, "--only", "q01_pricing_summary", "--runs", "2")
    assert ok.returncode == 0, ok.stderr[-2000:]
    record = json.loads(ok.stdout.strip().splitlines()[-1])
    sample = record["queries"]["q01_pricing_summary"]
    assert list(record["queries"]) == ["q01_pricing_summary"]
    assert isinstance(sample["cold"], float)
    assert len(sample["warm"]) == 2 and all(w > 0 for w in sample["warm"])
    assert record["sf"] == 0.001 and record["runs"] == 2
    assert (REPO / "BENCH.json").read_bytes() == before
