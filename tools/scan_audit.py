"""Logical-plan scan audit: how many times does each query read each
base table?

A query whose OPTIMIZED plan contains the same base relation many
times is usually re-executing a shared subtree (union-of-selects over
one aggregate, flip-union symmetrization, a relation joined on two
keys without persist) — the round-7 fan-out audit's defect class,
detected mechanically instead of by eye. Traversal stops at
InMemoryRelation: a cache reference is the fix, not the defect.

The audit walks `queryExecution().optimizedPlan()` (logical), not the
formatted physical text — the text re-prints cached subtrees at every
reference and AQE inserts "Initial Plan" sections, both of which make
string counting lie.

Usage:
    python tools/scan_audit.py [--sf DIR] [--min N] [--only name ...]

Prints one line per query whose per-table scan count >= --min (default
3), then a summary. A flagged query is a LEAD, not automatically a
defect: constant small fan-outs over pruned columns (the per-column
profile policy) and deliberate multi-scan evaluators are fine — the
note to chase is an EXPENSIVE subtree behind the repeated scans.
Exit code is always 0; the no-Union plan gates in
tests/test_plan_quality.py pin the specific shapes already fixed.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# TPC-H tables carry a unique per-table column prefix; the synthetic
# tables are matched by their (disjoint) full column sets.
_PREFIX2TABLE = {
    "l_": "lineitem",
    "o_": "orders",
    "c_": "customer",
    "s_": "supplier",
    "p_": "part",
    "n_": "nation",
    "r_": "region",
}
_COLSET2TABLE = {
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


def _table_of(names: set) -> str:
    # Synthetic column sets FIRST: documents.n_chars would otherwise
    # false-match nation's "n_" prefix (the sets are disjoint from all
    # TPC-H column names, so set-membership is unambiguous).
    for t, cols in _COLSET2TABLE.items():
        if names & cols:
            return t
    for n in names:
        for pre, t in _PREFIX2TABLE.items():
            if n.startswith(pre):
                return t
    return "<other>"


def _leaf_counts(jplan) -> dict:
    """Count base-relation leaves per table, stopping at cached nodes.

    A leaf is attributed to a table from its FULL output attribute
    list (``n.output()``), not the first toString line — a pruned
    projection that drops the distinctive columns from the printed
    head would otherwise silently fall into ``<other>``. TPC-H tables
    match on their unique column prefix (any surviving column
    suffices); the synthetic tables on their column sets. Only a
    zero-column leaf (pure count(*) scan with full pruning) can still
    land in ``<other>``, so per-table counts are a floor by at most
    those.
    """
    counts: dict[str, int] = {}

    def walk(n):
        cls = n.getClass().getSimpleName()
        if cls == "InMemoryRelation":
            return
        ch = n.children()
        if ch.length() == 0 and cls in ("LogicalRelation", "Relation"):
            out = n.output()
            names = {out.apply(i).name() for i in range(out.length())}
            table = _table_of(names)
            counts[table] = counts.get(table, 0) + 1
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(jplan)
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--min", type=int, default=3)
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    from scalable_data_ingestion_spark import registry
    from scalable_data_ingestion_spark.session import get_spark

    spark = get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()
    names = args.only or list(qs)
    flagged = 0
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            counts = _leaf_counts(df._jdf.queryExecution().optimizedPlan())
        except Exception as exc:  # plan-time failure is itself a finding
            print(f"{name}: PLAN ERROR {type(exc).__name__}: {exc}")
            flagged += 1
            continue
        hot = {t: c for t, c in counts.items() if c >= args.min}
        if hot:
            flagged += 1
            desc = ", ".join(f"{t} x{c}" for t, c in sorted(hot.items()))
            print(f"{name}: {desc}")
        spark.catalog.clearCache()
    print(f"\n{flagged}/{len(names)} queries read a base table >= {args.min}x")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
