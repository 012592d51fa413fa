"""Store-backed dedup and word shingling each live in one place.

A source scan, no Spark: the append-only dedup stores are read only by
the ``StoreDedupSink`` skeleton and ``FingerprintStoreDedup``, and the
word-trigram expression over ``SHINGLE_N`` is written once, in
``dedup.doc_shingles``. DuckDB oracle SQL (``len(t) - ...``) is not
Python and does not match.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "scalable_data_ingestion_spark"

TRIGRAM = re.compile(r"size\(t\) - \{SHINGLE_N\}")


def _read_store_callers(tree, prefix=""):
    """Qualified names of the functions and methods that call read_store."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, ast.ClassDef):
            yield from _read_store_callers(node, f"{prefix}{node.name}.")
        elif isinstance(node, ast.FunctionDef) and any(
            isinstance(call, ast.Call) and getattr(call.func, "id", None) == "read_store"
            for call in ast.walk(node)
        ):
            yield prefix + node.name


def test_stores_are_read_only_by_the_skeleton_and_fingerprint_sink():
    callers = {
        name
        for path in sorted(PACKAGE.rglob("*.py"))
        for name in _read_store_callers(ast.parse(path.read_text()))
    }
    assert callers == {
        "StoreDedupSink.process_batch",
        "FingerprintStoreDedup.process_batch",
    }


def test_one_word_trigram_shingler():
    hits = [
        f"{path.relative_to(PACKAGE)}:{lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if TRIGRAM.search(line)
    ]
    assert len(hits) == 1 and hits[0].startswith("operators/dedup.py:"), hits
