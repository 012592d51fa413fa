"""Store-backed dedup, word shingling and the co-purchase graph each
live in one place.

A source scan, no Spark: the append-only dedup stores are read only by
the ``StoreDedupSink`` skeleton and ``FingerprintStoreDedup``, and the
word-trigram expression over ``SHINGLE_N`` is written once, in
``dedup.doc_shingles``. DuckDB oracle SQL (``len(t) - ...``) is not
Python and does not match. The lineitem self-join on ``l_orderkey`` is
written only in ``graph.copurchase_edges`` and in the two queries with
other support semantics (``gr_edge_churn`` keys on era too,
``mb_association_rules`` counts distinct baskets), and the
two-orientation explode that lists an edge both ways is written only in
``graph._symmetrize``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "scalable_data_ingestion_spark"

TRIGRAM = re.compile(r"size\(t\) - \{SHINGLE_N\}")
ORDERKEY_REF = re.compile(r"(\w+)\.l_orderkey")


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


def _functions():
    """Every module-level function of the package, with its path."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                yield path, node


def _body_calls(fn):
    """Calls in a function's body; its decorators (oracle SQL) are skipped."""
    for stmt in fn.body:
        for node in ast.walk(stmt):
            if isinstance(node, ast.Call):
                yield node


def _callee(call):
    return getattr(call.func, "attr", getattr(call.func, "id", None))


def test_lineitem_self_join_is_written_once():
    """A function self-joins lineitem when it names ``l_orderkey`` of two
    different aliases, as in ``F.col("a.l_orderkey") == F.col("b.l_orderkey")``."""
    joiners = set()
    for _, fn in _functions():
        aliases = {
            m.group(1)
            for call in _body_calls(fn)
            if _callee(call) == "col"
            for arg in call.args
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str)
            for m in [ORDERKEY_REF.fullmatch(arg.value)]
            if m
        }
        if len(aliases) >= 2:
            joiners.add(fn.name)
    assert joiners == {"copurchase_edges", "gr_edge_churn", "mb_association_rules"}


def _is_two_orientation_explode(call):
    """``explode(array(struct(x AS o1, y AS o2, ...), struct(y AS o1, x AS o2, ...)))``."""
    if _callee(call) != "explode" or len(call.args) != 1:
        return False
    arr = call.args[0]
    if not (isinstance(arr, ast.Call) and _callee(arr) == "array" and len(arr.args) == 2):
        return False
    first, second = arr.args
    if not all(isinstance(s, ast.Call) and _callee(s) == "struct" for s in arr.args):
        return False
    if len(first.args) < 2 or len(first.args) != len(second.args):
        return False

    def src_alias(field):
        # field is `<expr>.alias(<name>)`: return (dump(<expr>), dump(<name>))
        if isinstance(field, ast.Call) and _callee(field) == "alias":
            return ast.dump(field.func.value), ast.dump(field.args[0])
        return ast.dump(field), None

    (a1, o1), (b1, o2) = map(src_alias, first.args[:2])
    (a2, p1), (b2, p2) = map(src_alias, second.args[:2])
    return (a1, b1, o1, o2) == (b2, a2, p1, p2) and a1 != b1


def test_both_directions_come_only_from_symmetrize():
    owners = [
        f"{path.relative_to(PACKAGE)}:{fn.name}"
        for path, fn in _functions()
        if any(_is_two_orientation_explode(c) for c in _body_calls(fn))
    ]
    assert owners == ["operators/graph.py:_symmetrize"], owners
