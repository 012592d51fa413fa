"""Plan/property gates for the retrieval, prefix-join, HLL, AUC, and
attribution operators. Value correctness is covered by the automatic
oracle sweep (tests/test_oracle_parity.py); these pin the structural
properties that make the operators right at scale.
"""

from __future__ import annotations

import contextlib
import io

import numpy as np

from scalable_data_ingestion_spark import registry
from scalable_data_ingestion_spark.session import local_frame

registry.load_all()


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_prefix_join_equals_exhaustive_join(spark, sf_dir):
    # The AllPairs guarantee: prefix filtering drops NO qualifying pair,
    # so the output is identical to the full inverted-index join at the
    # same threshold.
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in registry.QUERIES["dd_ngram_jaccard_pairs"](spark, sf_dir).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in registry.QUERIES["dd_prefix_jaccard_pairs"](spark, sf_dir).collect()
    }
    assert pref == full


def make_corpus(n_docs: int, vocab: int, seed: int) -> list[tuple[int, str]]:
    """Seeded Zipf corpus as ``(doc_id, text)`` rows.

    A ``vocab``-word vocabulary with Zipf(s=1.1) frequencies (a stop-word
    head that dominates sum(df²), a long df=1..2 tail), documents of
    40-120 tokens drawn i.i.d. from it, and after every 20th document a
    copy with ~10% of its tokens redrawn, so Jaccard >= 0.6 near-dup
    pairs exist.
    """
    rng = np.random.default_rng(seed)
    probs = 1.0 / np.arange(1, vocab + 1) ** 1.1
    probs /= probs.sum()
    words = np.array([f"w{i}" for i in range(vocab)])
    docs: list[tuple[int, str]] = []
    for base in range(n_docs):
        length = int(rng.integers(40, 121))
        toks = words[rng.choice(vocab, size=length, p=probs)]
        docs.append((len(docs), " ".join(toks)))
        if base % 20 == 0:
            mut = toks.copy()
            n_mut = max(1, length // 10)
            idx = rng.choice(length, size=n_mut, replace=False)
            mut[idx] = words[rng.choice(vocab, size=n_mut, p=probs)]
            docs.append((len(docs), " ".join(mut)))
    return docs


def test_prefix_join_equals_exhaustive_on_zipf_corpus(spark):
    # Same guarantee on the corpus shape AllPairs was designed for: a
    # Zipf vocabulary with a stop-word head and a discriminative df=1..2
    # tail (the provided testdata's 31-token uniform vocabulary cannot
    # produce it — see the strategy note in operators/prefixjoin.py).
    # At 30k+ docs of this corpus the prefix join beats the exhaustive
    # index (SCALING.md).
    from scalable_data_ingestion_spark.operators.dedup import (
        _jaccard_pairs,
        doc_shingles,
    )
    from scalable_data_ingestion_spark.operators.prefixjoin import (
        _prefix_jaccard,
    )

    docs = local_frame(spark, make_corpus(400, vocab=3000, seed=11), "doc_id bigint, text string")
    sh = doc_shingles(docs).cache()
    full = {
        (r.doc_a, r.doc_b, r.jaccard) for r in _jaccard_pairs(sh, 0.6).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard) for r in _prefix_jaccard(sh).collect()
    }
    assert pref == full
    assert len(pref) > 0  # the injected near-dups actually qualify


def test_bm25_plan_is_jvm_side_and_broadcasts_dims(spark, sf_dir):
    p = plan(registry.QUERIES["txt_bm25_topk"](spark, sf_dir))
    assert "BatchEvalPython" not in p
    # df / corpus-stats relations ride as broadcast joins.
    assert "BroadcastExchange" in p


def test_bm25_scores_ordered_and_bounded(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.retrieval import BM25_TOPK

    rows = registry.QUERIES["txt_bm25_topk"](spark, sf_dir).collect()
    assert 0 < len(rows) <= BM25_TOPK
    by_rank = sorted(rows, key=lambda r: r.rank)
    scores = [r.bm25_score for r in by_rank]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)  # Lucene idf is non-negative


def test_hll_register_file_consistency(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.sketches import HLL_M

    row = registry.QUERIES["sk_hll_user_estimate"](spark, sf_dir).collect()[0]
    assert row.m == HLL_M
    assert 0 <= row.n_zero_registers <= HLL_M
    # standard HLL error is ~1.04/sqrt(m) (~6.5% at m=256); allow 4 sigma.
    assert abs(row.rel_err) < 4 * 1.04 / (HLL_M ** 0.5)


def test_auc_is_a_valid_probability(spark, sf_dir):
    row = registry.QUERIES["eval_classifier_auc"](spark, sf_dir).collect()[0]
    assert row.n_pos > 0 and row.n_neg > 0
    assert 0 <= row.u2 <= 2 * row.n_pos * row.n_neg
    assert 0.0 <= row.auc <= 1.0


def test_attribution_credit_conservation(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.analytics import (
        ATTR_MICRO,
        ATTR_TOUCH_TYPES,
    )

    rows = registry.QUERIES["ev_attribution_linear"](spark, sf_dir).collect()
    assert rows
    assert {r.event_type for r in rows} <= set(ATTR_TOUCH_TYPES)
    # Each credited purchase distributes at most ATTR_MICRO in total
    # (DIV truncation can only lose micro-credits, never create them).
    purchases = {r.event_type: r.n_purchases for r in rows}
    total_micro = sum(r.credit_micro_total for r in rows)
    assert total_micro <= ATTR_MICRO * max(purchases.values()) * len(rows)


def test_k_anonymity_accounting(spark, sf_dir):
    row = registry.QUERIES["dq_k_anonymity"](spark, sf_dir).collect()[0]
    assert row.n_records > 0 and row.n_groups > 0
    assert row.records_below_k <= row.n_records
    assert row.groups_below_k <= row.n_groups
    assert 0.0 <= row.reident_risk_rate <= 1.0


def test_rfm_scores_are_balanced_quartiles(spark, sf_dir):
    from collections import Counter

    rows = registry.QUERIES["cust_rfm_segments"](spark, sf_dir).collect()
    assert rows
    for dim in ("r_score", "f_score", "m_score"):
        counts = Counter(getattr(r, dim) for r in rows)
        assert set(counts) == {1, 2, 3, 4}
        # ntile keeps bucket sizes within 1 of each other
        assert max(counts.values()) - min(counts.values()) <= 1
    for r in rows:
        assert r.rfm == f"{r.r_score}{r.f_score}{r.m_score}"


def test_zipf_slope_is_negative(spark, sf_dir):
    row = registry.QUERIES["txt_zipf_fit"](spark, sf_dir).collect()[0]
    assert row.n_vocab > 10
    assert row.zipf_slope < 0  # frequency decreases with rank
    assert 0.0 <= row.r2 <= 1.0


def test_dow_seasonality_is_centered(spark, sf_dir):
    rows = registry.QUERIES["ts_dow_seasonality"](spark, sf_dir).collect()
    assert {r.dow for r in rows} == set(range(1, 8))
    # weighted mean of indices (weights = n_days) must be ~1
    total_days = sum(r.n_days for r in rows)
    mean = sum(r.seasonal_index * r.n_days for r in rows) / total_days
    assert abs(mean - 1.0) < 0.01


def test_feature_matrix_is_leakage_free(spark, sf_dir):
    # Window hierarchy: 7d counts <= 30d counts; recency is
    # non-negative; label is binary.
    rows = registry.QUERIES["feat_user_activity_matrix"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_events_7d <= r.n_events_30d
        assert r.days_since_last >= 0
        assert r.label_active_next_7d in (0, 1)
        assert r.n_purchases_30d <= r.n_events_30d


def test_int8_codes_bound_reconstruction_error(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.projection import Q8_LEVELS

    rows = registry.QUERIES["emb_int8_quantize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.code_sum <= Q8_LEVELS * r.n_dims
        assert r.mse >= 0


def test_oov_rate_bounds(spark, sf_dir):
    rows = registry.QUERIES["txt_oov_rate"](spark, sf_dir).collect()
    assert rows
    assert any(r.n_oov > 0 for r in rows)  # vocab smaller than corpus
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert 0.0 <= r.oov_rate <= 1.0


def test_two_hop_reach_dominates_degree(spark, sf_dir):
    # In a symmetric graph every neighbor is reachable in two hops via
    # a shared third node OR directly; reach counts distinct non-self
    # targets, so it is at least... (no strict relation to degree), but
    # nbr_degree_sum >= degree always (each neighbor has >= 1 edge back).
    rows = registry.QUERIES["gr_two_hop_features"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.nbr_degree_sum >= r.degree
        assert r.two_hop_reach >= 1


def test_bootstrap_ci_brackets_point_estimate(spark, sf_dir):
    row = registry.QUERIES["stat_bootstrap_mean_ci"](spark, sf_dir).collect()[0]
    assert row.boot_lo <= row.boot_hi
    # the point estimate should fall inside (or at worst on) the
    # trimmed replica range for a well-behaved mean
    assert row.boot_lo <= row.mean_chars <= row.boot_hi or (
        abs(row.mean_chars - row.boot_lo) / row.mean_chars < 0.05
        or abs(row.mean_chars - row.boot_hi) / row.mean_chars < 0.05
    )


def test_association_rules_are_consistent(spark, sf_dir):
    from scalable_data_ingestion_spark.plans.stats import RULES_TOPK

    rows = registry.QUERIES["mb_association_rules"](spark, sf_dir).collect()
    assert 0 < len(rows) <= RULES_TOPK
    for r in rows:
        assert 0 < r.support <= 1
        assert 0 < r.confidence <= 1
        assert r.lift > 0


def test_weighted_median_is_attained_length(spark, sf_dir):
    rows = registry.QUERIES["stat_weighted_median_len"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.weighted_median_chars is not None
        assert r.total_tokens > 0


def test_checksum_localizes_a_mutation(spark, sf_dir):
    # Flipping one row's price must change exactly that month's
    # checksum (n_rows unchanged) — the anti-entropy property.
    from pyspark.sql import functions as F

    base = {
        r.month: (r.n_rows, r.checksum)
        for r in registry.QUERIES["dq_orders_checksum"](spark, sf_dir).collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    probe_key = orders.select(F.min("o_orderkey")).first()[0]
    mutated = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == probe_key, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    mutated.createOrReplaceTempView("_mut_orders")
    # recompute via the same expression chain on the mutated relation
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")
    mut = {
        r.month: (r.n_rows, r.checksum)
        for r in mutated.select(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
            h.alias("h"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("h").cast("bigint").alias("checksum"),
        )
        .collect()
    }
    diff_months = [m for m in base if base[m] != mut[m]]
    assert len(diff_months) == 1
    m = diff_months[0]
    assert base[m][0] == mut[m][0]  # same row count, different checksum


def test_edge_churn_counters_partition_the_union(spark, sf_dir):
    row = registry.QUERIES["gr_edge_churn"](spark, sf_dir).collect()[0]
    total = row.retained + row.added + row.removed
    assert total > 0
    assert abs(row.churn_rate - (row.added + row.removed) / total) < 1e-6


def test_grouped_hll_within_error_bound(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.sketches import HLL_M

    rows = registry.QUERIES["sk_hll_users_by_event"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.rel_err) < 4 * 1.04 / (HLL_M ** 0.5)


def test_incremental_assign_covers_only_new_batch(spark, sf_dir):
    rows = registry.QUERIES["sim_ivf_incremental_assign"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.vec_id % 4 == 3  # only the new batch is scored
        assert r.sq_dist >= 0


def test_rolling_corr_is_bounded(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.timeseries import ROLL_CORR_DAYS

    rows = registry.QUERIES["ts_rolling_view_purchase_corr"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_days == ROLL_CORR_DAYS
        assert -1.000001 <= r.rolling_corr <= 1.000001


def test_rerank_agreement_bounds(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.multivector import (
        MV_CAND_K,
        MV_RERANK_K,
    )

    rows = registry.QUERIES["sim_rerank_agreement"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_overlap_top10 <= MV_RERANK_K
        assert 1 <= r.top1_cand_rank <= MV_CAND_K


def test_negative_samples_are_true_non_edges(spark, sf_dir):
    from pyspark.sql import functions as F

    from scalable_data_ingestion_spark.operators.graph import NEG_PER_NODE

    neg = registry.QUERIES["gr_negative_edge_samples"](spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("neg_dst"))
        .distinct()
    )
    # no sampled negative may be a real edge or a self-loop
    assert neg.join(pairs, ["src", "neg_dst"], "inner").count() == 0
    assert neg.filter(F.col("src") == F.col("neg_dst")).count() == 0
    # per-node cap respected
    per = neg.groupBy("src").count().agg(F.max("count")).first()[0]
    assert per <= NEG_PER_NODE


def test_softdedup_weights_conserve_cluster_mass(spark, sf_dir):
    from collections import defaultdict

    rows = registry.QUERIES["dd_softdedup_weights"](spark, sf_dir).collect()
    assert rows
    clusters = defaultdict(list)
    for r in rows:
        clusters[r.cluster_id].append(r)
    for cid, members in clusters.items():
        size = members[0].cluster_size
        assert len(members) == size
        # each cluster contributes ~1.0 total weight (DIV truncation
        # only loses, never gains)
        total_micro = sum(m.weight_micro for m in members)
        assert total_micro <= 1_000_000
        assert total_micro > 1_000_000 - size  # floor loss < 1 micro/doc


def test_cluster_aware_split_has_no_cross_split_neardups(spark, sf_dir):
    rows = registry.QUERIES["samp_cluster_aware_split"](spark, sf_dir).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    # the leakage guarantee: one split per cluster
    assert all(len(s) == 1 for s in by_cluster.values())
    # and all three splits exist at corpus level
    assert {r.split for r in rows} == {"train", "val", "test"}


def test_freshness_lags_are_nonnegative(spark, sf_dir):
    rows = registry.QUERIES["mon_source_freshness"](spark, sf_dir).collect()
    assert rows
    assert any(r.lag_seconds == 0 for r in rows)  # the watermark source
    for r in rows:
        assert r.lag_seconds >= 0


def test_quality_survivors_keep_best_copy(spark, sf_dir):
    from collections import defaultdict

    rows = registry.QUERIES["dd_quality_survivors"](spark, sf_dir).collect()
    assert rows
    clusters = defaultdict(list)
    for r in rows:
        clusters[r.cluster_id].append(r)
    for members in clusters.values():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1
        assert keepers[0].quality == max(m.quality for m in members)


def test_pmi_pairs_are_associated(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.corpus import PMI_MIN_COOC

    rows = registry.QUERIES["txt_pmi_pairs"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.c_ab >= PMI_MIN_COOC
        assert r.c_ab <= min(r.df_a, r.df_b)


def test_sla_percentiles_are_ordered(spark, sf_dir):
    rows = registry.QUERIES["sla_ship_leadtime"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_days <= r.p90_days <= r.p99_days <= r.max_days


def test_scd2_delta_untouched_keys_pass_through(spark, sf_dir):
    # Keys absent from the delta keep their history rows; the union
    # result equals the full rebuild (the oracle already checks the
    # value equality — this pins the pass-through structure).
    from pyspark.sql import functions as F

    from scalable_data_ingestion_spark.operators.scd import SCD2_CUTOVER

    out = registry.QUERIES["scd2_apply_delta"](spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    delta_keys = {
        r.o_custkey
        for r in orders.filter(
            F.col("o_orderdate") >= F.lit(SCD2_CUTOVER).cast("timestamp")
        )
        .select("o_custkey")
        .distinct()
        .collect()
    }
    rows = out.collect()
    assert rows
    # every current version per customer is unique
    from collections import Counter

    cur = Counter(r.custkey for r in rows if r.is_current)
    assert all(v == 1 for v in cur.values())
    assert delta_keys & set(cur)  # delta customers present


def test_matryoshka_recall_bounds(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.similarity import TOP_K

    rows = registry.QUERIES["sim_matryoshka_recall"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_hits <= TOP_K
    # truncation should still find SOMETHING overall
    assert sum(r.n_hits for r in rows) > 0


def test_ppr_mass_concentrates_on_seeds(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.graph import PPR_SEED_MOD

    rows = registry.QUERIES["gr_personalized_pagerank"](spark, sf_dir).collect()
    assert rows
    seeds = [r for r in rows if r.is_seed]
    non = [r for r in rows if not r.is_seed]
    assert seeds
    for r in rows:
        assert r.is_seed == (r.part_id % PPR_SEED_MOD == 0)
        assert r.ppr >= 0
    # seed average rank should exceed non-seed average (restart mass)
    if non:
        assert sum(r.ppr for r in seeds) / len(seeds) > sum(
            r.ppr for r in non
        ) / len(non)


def test_neyman_allocation_spends_the_budget(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.splits import NEYMAN_BUDGET

    rows = registry.QUERIES["samp_neyman_allocation"](spark, sf_dir).collect()
    assert rows
    total_alloc = sum(r.alloc for r in rows)
    # floor(x+0.5) rounding keeps the total within one per stratum
    assert abs(total_alloc - NEYMAN_BUDGET) <= len(rows)
    for r in rows:
        assert r.n_selected == min(r.alloc, r.n_pop)
        assert r.sd_value > 0


# ---------------------------------------------------------------------------
# Plan-shape gates for this session's operators: no Python row UDFs
# anywhere, broadcasts where dimension tables feed fact-sized joins,
# and no cartesian products outside the intentional 1-row stat joins.
# ---------------------------------------------------------------------------
def test_session_ops_have_no_python_row_udfs(spark, sf_dir):
    for name in [
        "txt_bm25_topk",
        "dd_prefix_jaccard_pairs",
        "sk_hll_user_estimate",
        "eval_classifier_auc",
        "ev_attribution_linear",
        "cust_rfm_segments",
        "txt_zipf_fit",
        "ts_dow_seasonality",
        "feat_user_activity_matrix",
        "emb_int8_quantize",
        "txt_oov_rate",
        "stat_bootstrap_mean_ci",
        "mb_association_rules",
        "stat_weighted_median_len",
        "dq_orders_checksum",
        "dq_k_anonymity",
        "mon_source_freshness",
        "txt_pmi_pairs",
        "sla_ship_leadtime",
        "samp_neyman_allocation",
        "sim_matryoshka_recall",
        "scd2_apply_delta",
    ]:
        p = plan(registry.QUERIES[name](spark, sf_dir))
        assert "BatchEvalPython" not in p, name


def test_prefix_join_is_hash_join_not_nested_loop(spark, sf_dir):
    # The whole point of prefix filtering: candidates come from an
    # EQUI-join on the prefix token, never a nested-loop product.
    p = plan(registry.QUERIES["dd_prefix_jaccard_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_prefix_join_candidate_budget_guard(spark, sf_dir, monkeypatch):
    # Round-9 verdict #2: the prefix join must price its candidate
    # volume BEFORE the join runs and fail fast past the budget (the
    # unguarded version OOMed an 8 GiB heap at sf~1). With an absurdly
    # low cap the sf0.001 corpus must trip the guard with the
    # actionable message; with the default cap it runs unchanged.
    import pytest

    from scalable_data_ingestion_spark.operators import prefixjoin

    monkeypatch.setattr(prefixjoin, "PJ_CANDIDATE_CAP", 1)
    with pytest.raises(RuntimeError, match="PJ_CANDIDATE_CAP"):
        registry.QUERIES["dd_prefix_jaccard_pairs"](spark, sf_dir)
    monkeypatch.setattr(prefixjoin, "PJ_CANDIDATE_CAP", 10_000_000)
    assert registry.QUERIES["dd_prefix_jaccard_pairs"](spark, sf_dir).count() >= 0


def test_checksum_is_single_aggregation(spark, sf_dir):
    # scan -> project -> partial agg -> exchange -> final agg: exactly
    # one Exchange, no joins.
    p = plan(registry.QUERIES["dq_orders_checksum"](spark, sf_dir))
    assert p.count("Exchange") <= 2  # one shuffle (+AQE read marker)
    assert "Join" not in p


def test_int8_quantize_broadcasts_dim_stats(spark, sf_dir):
    p = plan(registry.QUERIES["emb_int8_quantize"](spark, sf_dir))
    assert "BroadcastExchange" in p


def test_novelty_first_doc_is_fully_novel(spark, sf_dir):
    rows = registry.QUERIES["txt_ngram_novelty"](spark, sf_dir).collect()
    assert rows
    by_id = {r.doc_id: r for r in rows}
    first = by_id[min(by_id)]
    assert first.novelty == 1.0  # nothing precedes the first doc
    for r in rows:
        assert 0.0 <= r.novelty <= 1.0
        assert r.n_novel <= r.n_shingles


def test_gini_is_a_valid_concentration(spark, sf_dir):
    row = registry.QUERIES["stat_revenue_gini"](spark, sf_dir).collect()[0]
    assert 0.0 <= row.gini < 1.0
    # top decile must hold at least its proportional share
    assert row.top_decile_share >= 0.1 - 1e-6


def test_pca_vector_is_unit_and_dominant(spark, sf_dir):
    rows = registry.QUERIES["emb_pca_top_component"](spark, sf_dir).collect()
    assert len(rows) == 64
    norm2 = sum(r.loading * r.loading for r in rows)
    assert abs(norm2 - 1.0) < 1e-3  # normalized (up to 1e-6 quantization)
    assert rows[0].eigenvalue_est > 0


def test_cohort_ltv_is_monotone_per_cohort(spark, sf_dir):
    from collections import defaultdict

    rows = registry.QUERIES["ev_cohort_ltv"](spark, sf_dir).collect()
    assert rows
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r.cohort].append(r)
    for members in by_cohort.values():
        members.sort(key=lambda r: r.offset_months)
        cums = [m.cum_revenue_cents for m in members]
        assert cums == sorted(cums)  # cumulative is monotone
        assert members[0].offset_months == 0


def test_duplicate_orders_audit_finds_injected_copies(spark, sf_dir):
    rows = registry.QUERIES["dq_duplicate_orders"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_orders >= 2
        assert r.first_orderkey < r.last_orderkey


def test_norm_audit_flags_injected_corruption(spark, sf_dir):
    rows = registry.QUERIES["emb_norm_audit"](spark, sf_dir).collect()
    assert rows
    outliers = {r.vec_id for r in rows if r.outlier}
    assert outliers  # corrupted vectors must surface
    # only injected (vec_id % 25 == 0) vectors can be outliers here
    assert all(v % 25 == 0 for v in outliers)


def test_split_leakage_reports_only_test_docs(spark, sf_dir):
    splits = {
        r.doc_id: r.split
        for r in registry.QUERIES["samp_train_val_test"](spark, sf_dir).collect()
    }
    rows = registry.QUERIES["dq_split_leakage"](spark, sf_dir).collect()
    for r in rows:
        assert splits[r.test_id] == "test"
        assert splits[r.worst_train_id] == "train"
        assert r.max_overlap >= 3


def test_abtt_recall_bounds(spark, sf_dir):
    rows = registry.QUERIES["sim_abtt_recall"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_hits <= 5


def test_kfold_partitions_the_corpus(spark, sf_dir):
    from collections import Counter

    from scalable_data_ingestion_spark.operators.splits import KFOLD_K

    rows = registry.QUERIES["samp_kfold_assign"](spark, sf_dir).collect()
    assert rows
    counts = Counter(r.fold for r in rows)
    assert set(counts) <= set(range(KFOLD_K))
    for r in rows:
        assert r.fold_size == counts[r.fold]


def test_dedup_impact_accounting(spark, sf_dir):
    row = registry.QUERIES["dd_dedup_impact"](spark, sf_dir).collect()[0]
    assert row.docs_removed_hard > 0  # near-dup clusters exist
    assert row.tokens_removed_hard <= row.total_tokens
    # soft dedup discounts at most what hard dedup removes... not in
    # general (soft discounts every member) — but never more than total
    assert 0 <= row.tokens_discounted_soft <= row.total_tokens


def test_cross_lang_pairs_have_different_tags(spark, sf_dir):
    rows = registry.QUERIES["dq_cross_lang_overlap"](spark, sf_dir).collect()
    for r in rows:
        assert r.lang_a != r.lang_b
        assert r.overlap >= 3


def test_seasonal_naive_mape_bounds(spark, sf_dir):
    rows = registry.QUERIES["mon_seasonal_naive_mape"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_days_scored > 0
        assert r.mape >= 0


def test_waterfill_respects_supply_and_budget(spark, sf_dir):
    rows = registry.QUERIES["samp_mix_waterfill"](spark, sf_dir).collect()
    assert rows
    total_supply = sum(r.supply_tokens for r in rows)
    budget = total_supply // 2
    total_alloc = sum(r.alloc_tokens for r in rows)
    for r in rows:
        assert r.alloc_tokens <= r.supply_tokens
        assert r.exhausted == (r.alloc_tokens >= r.supply_tokens)
    # never over-spends; under-spend only by integer-division crumbs
    # or because every source is exhausted
    assert total_alloc <= budget


def test_rrf_fuses_both_rankers(spark, sf_dir):
    from scalable_data_ingestion_spark.operators.retrieval import (
        RRF_POOL,
        RRF_TOPK,
    )

    rows = registry.QUERIES["sim_hybrid_rrf"](spark, sf_dir).collect()
    assert 0 < len(rows) <= RRF_TOPK
    # docs present in BOTH rankings must dominate the fused head
    both = [r for r in rows if r.bm25_rank is not None and r.dense_rank is not None]
    only = [r for r in rows if r.bm25_rank is None or r.dense_rank is None]
    if both and only:
        assert min(r.fused_rank for r in both) < min(r.fused_rank for r in only)
    for r in rows:
        assert r.bm25_rank is None or 1 <= r.bm25_rank <= RRF_POOL
        assert r.dense_rank is None or 1 <= r.dense_rank <= RRF_POOL


def test_entropy_bounded_by_log_vocab(spark, sf_dir):
    import math

    rows = registry.QUERIES["txt_unigram_entropy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.entropy_nats >= 0
        # H <= ln(#distinct tokens); fixed-point floor only undershoots
        assert r.entropy_nats <= math.log(max(r.n_distinct_tokens, 2)) + 1e-6


def test_interarrival_percentiles_ordered(spark, sf_dir):
    rows = registry.QUERIES["ev_interarrival_stats"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.p50_gap_s <= r.p90_gap_s <= r.max_gap_s


def test_clustering_coefficient_bounds(spark, sf_dir):
    rows = registry.QUERIES["gr_clustering_coefficient"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.clustering_coef <= 1.0
        # triangles are bounded by neighbor pairs
        assert 2 * r.n_triangles <= r.degree * (r.degree - 1) or r.degree < 2


def test_degree_distribution_partitions_nodes(spark, sf_dir):
    rows = registry.QUERIES["gr_degree_distribution"](spark, sf_dir).collect()
    assert rows
    total_share = sum(r.degree_mass_share for r in rows)
    assert abs(total_share - 1.0) < 1e-4
    for r in rows:
        assert (1 << r.bin_log2) <= r.min_degree <= r.max_degree < (
            1 << (r.bin_log2 + 1)
        )


def test_length_histogram_covers_corpus(spark, sf_dir):
    rows = registry.QUERIES["txt_length_histogram"](spark, sf_dir).collect()
    assert rows
    n_docs_total = sum(r.n_docs for r in rows)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert n_docs_total == docs


def test_session_durations_consistent_with_sessionization(spark, sf_dir):
    row = registry.QUERIES["ev_session_duration_stats"](spark, sf_dir).collect()[0]
    # must agree with the sessionization relation's session count
    sessions = (
        registry.QUERIES["ev_user_sessions"](spark, sf_dir)
        .select("user_id", "session_id")
        .distinct()
        .count()
    )
    assert row.n_sessions == sessions
    assert 0 <= row.p50_duration_s <= row.p90_duration_s <= row.max_duration_s


def test_time_to_convert_is_positive(spark, sf_dir):
    row = registry.QUERIES["ev_time_to_convert"](spark, sf_dir).collect()[0]
    assert row.n_converted > 0
    assert 0 < row.p50_secs <= row.p90_secs <= row.max_secs
