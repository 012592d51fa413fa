"""Standing scan-fanout gate (r7 verdict #5).

tools/scan_audit.py found round-7's defect class mechanically: a query
whose OPTIMIZED logical plan reads the same base table many times is
usually re-executing a shared subtree (union-of-selects over one
aggregate, flip-union symmetrization, a relation joined on two keys
without persist). This test turns that per-round manual harvest into a
CI gate: every registered query's per-table base-relation leaf count
must not exceed its recorded ceiling. A NEW query reading a table >=
FLAG_MIN times, or an existing query regressing past its audited
count, fails here instead of waiting for the next round's judge.

The allowlist below is the full audited inventory at round-8 HEAD
(sf0.001 plans; leaf counts are SF-independent). Every entry is a
POLICY-ACCEPTED fan-out, one of:
- per-column pruned profile branches (each scan reads ONE column, so
  the union reads ~the same bytes as one all-column pass) — the
  dq_* profilers;
- two-pass train/score minimums (LM families: one scan builds the
  model table, one scores);
- two-config evals that price both strategies by design (recall /
  incremental-vs-rebuild parity twins);
- filter-pruned query-side scans (each leaf reads a tiny pushed-down
  slice).

Adding a query here requires the same justification in its docstring.
Traversal stops at InMemoryRelation: a cache reference is the fix,
not the defect, so persisted shared subtrees count once.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "scan_audit",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "scan_audit.py"),
)
assert _SPEC is not None and _SPEC.loader is not None
scan_audit = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(scan_audit)

FLAG_MIN = 3

# query -> {table: max allowed leaf count} (only tables at >= FLAG_MIN).
# Regenerate with: python tools/scan_audit.py --sf /root/testdata/sf0.001
# Audited 2026-08-16 (round 8): 36 queries, every one a policy bucket
# from the header (SCALING.md "Round-7 mechanical scan audit" records
# the per-family reasoning).
ALLOWED: dict[str, dict[str, int]] = {
    "dd_bloom_decontaminate": {"documents": 3},
    "dd_dedup_impact": {"documents": 3},
    "dd_embedding_lsh_pairs": {"embeddings": 4},
    "dd_incremental_new_docs": {"documents": 3},
    "dd_quality_survivors": {"documents": 3},
    "dq_pk_discovery": {"orders": 3},
    "dq_price_outliers_mad": {"orders": 3},
    "dq_profile_drift": {"orders": 4},
    "dq_referential_integrity": {"lineitem": 3},
    "dq_referential_orphans": {"lineitem": 3},
    "dq_schema_fingerprint": {"customer": 5, "orders": 5},
    # 1 bucketed fact scan + 2 scans of the bucketed PROFILE table
    # (join side + the 1-row total aggregate) — the profile's user_id
    # column makes the audit attribute it to "events".
    "ev_bucketed_user_join": {"events": 3},
    "ev_cohort_ltv": {"orders": 3},
    "ev_markov_path_likelihood": {"events": 3},
    "eval_classifier_calibration": {"documents": 4},
    "eval_retrieval_ranking": {"embeddings": 6},
    "ivm_agg_delta_parity": {"orders": 4},
    "ivm_join_delta_parity": {"customer": 4, "orders": 4},
    "mon_category_drift_tvd": {"documents": 4},
    "q18_large_orders": {"lineitem": 3},
    "samp_temperature_mix": {"documents": 3},
    "sim_abtt_recall": {"embeddings": 4},
    "sim_binary_hamming_recall": {"embeddings": 4},
    "sim_hard_negative_mining": {"embeddings": 4},
    "sim_hybrid_rrf": {"documents": 4},
    "sim_ivf_incremental_assign": {"embeddings": 4},
    "sim_ivf_knn": {"embeddings": 4},
    "sim_ivf_multiprobe": {"embeddings": 4},
    "sim_ivf_recall_at_k": {"embeddings": 8},
    "sim_matryoshka_recall": {"embeddings": 4},
    "sim_rerank_agreement": {"embeddings": 4},
    "sim_rerank_maxsim": {"embeddings": 4},
    "sk_join_key_skew_report": {"lineitem": 3},
    "stat_bootstrap_mean_ci": {"documents": 3},
    "ts_stl_residual_anomalies": {"orders": 4},
    "txt_bm25_topk": {"documents": 4},
    "txt_decontamination": {"documents": 3},
    # 3 leaves of the TMP warehouse it wrote at build time (unattributed
    # -> "<other>"): the raw-totals scan, the live scan, and the
    # tombstone list. Raw-vs-live is the row's whole point (the n_total
    # minus n_live delta IS the deletion-vector evidence) — a two-view
    # eval by design, each leaf a pruned aggregate over the small tmp
    # table, never the sf tables.
    "wh_deletion_vector_read": {"<other>": 3},
}


@pytest.fixture(autouse=True)
def _pin_plan_shape_toggles(monkeypatch):
    """The allowlist was audited under the DEFAULT env toggle; a caller
    exporting SPARK_GRAFT_PJ_CANDIDATE_CAP switches the plan shape of
    the queries that read it. The toggle is bound to a module constant
    at import time, so pin the CONSTANT, not the env var."""
    from scalable_data_ingestion_spark.operators import prefixjoin

    monkeypatch.setattr(prefixjoin, "PJ_CANDIDATE_CAP", 10_000_000)


def test_no_new_scan_fanout(registry_plans):
    # Consumes the session-wide shared plan build (conftest
    # registry_plans) — round 11: four whole-registry gates each
    # rebuilt every query independently.
    plans, errors = registry_plans
    violations = [
        f"{name}: PLAN ERROR {err}" for name, err in sorted(errors.items())
    ]
    for name, (_df, _simple, optimized) in plans.items():
        counts = scan_audit._leaf_counts(optimized)
        allowed = ALLOWED.get(name, {})
        for t, c in counts.items():
            if c >= FLAG_MIN and c > allowed.get(t, 0):
                violations.append(
                    f"{name}: reads {t} x{c} (allowed {allowed.get(t, 0)})"
                )
    assert not violations, (
        "scan-fanout regressions (see tests/test_scan_gate.py header for "
        "the acceptance policy):\n" + "\n".join(violations)
    )
