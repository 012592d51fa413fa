"""Property-based parity tests (hypothesis) — our Column expressions vs
the reference's pandas semantics on adversarial inputs.

The reference suite has no property testing (SURVEY.md §5); these
pin the trickiest documented semantics: pd.cut right-closed bins,
risk-score additivity/clamping, completeness under arbitrary null
patterns.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from scalable_data_ingestion_spark.functions import customer_value_tier, risk_score

AMOUNTS = st.one_of(
    st.floats(min_value=-100.0, max_value=2000.0, allow_nan=False),
    st.sampled_from([0.0, 50.0, 200.0, 500.0, 1000.0, 50.0000001, 999.9999999]),
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(AMOUNTS, min_size=1, max_size=60))
def test_value_tier_matches_pd_cut(spark, amounts):
    df = spark.createDataFrame([(float(a),) for a in amounts], ["total_amount"])
    got = [
        r[0]
        for r in df.select(customer_value_tier("total_amount")).collect()
    ]
    expected_cat = pd.cut(
        pd.Series(amounts),
        bins=[0, 50, 200, 500, 1000, float("inf")],
        labels=["Low", "Medium", "High", "Premium", "VIP"],
    )
    expected = [None if pd.isna(v) else str(v) for v in expected_cat]
    assert got == expected


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=5000, allow_nan=False),
            st.sampled_from(["John Doe", "Unknown Customer", "Jane", "Unknown"]),
            st.sampled_from(
                ["Monday", "Tuesday", "Saturday", "Sunday", "Friday"]
            ),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_risk_score_matches_reference_rules(spark, rows):
    df = spark.createDataFrame(rows, ["total_amount", "customer_name", "order_weekday"])
    got = [
        r[0]
        for r in df.select(
            risk_score("total_amount", "customer_name", "order_weekday")
        ).collect()
    ]

    def ref(total, name, weekday):  # src/transformation.py:539-554 semantics
        score = 0
        if total > 1000:
            score += 30
        if "Unknown" in name:
            score += 20
        if weekday in ("Saturday", "Sunday"):
            score += 10
        return min(100, score)

    expected = [ref(*row) for row in rows]
    assert got == expected
    assert all(0 <= s <= 100 for s in got)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(min_size=1, max_size=8)),
            st.one_of(st.none(), st.integers(min_value=-5, max_value=100)),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_completeness_matches_pandas(spark, rows):
    from scalable_data_ingestion_spark.quality import quality_scores

    df = spark.createDataFrame(rows, "a string, b long")
    got = quality_scores(df)["completeness_score"]
    pdf = pd.DataFrame(rows, columns=["a", "b"])
    expected = min(100.0, max(0.0, pdf.count().sum() / pdf.size * 100))
    assert math.isclose(got, expected, abs_tol=1e-5)


def test_initcap_divergence_is_the_documented_one(spark):
    """F1 documented divergence: pandas title() capitalizes after any
    non-alpha; initcap only after whitespace."""
    df = spark.createDataFrame([("o'brien jones",)], ["name"])
    got = df.select(F.initcap(F.trim("name"))).first()[0]
    assert got == "O'brien Jones"  # Spark
    assert pd.Series(["o'brien jones"]).str.title()[0] == "O'Brien Jones"  # pandas


def test_cms_never_underestimates(spark, sf_dir):
    """Count-min invariant: every probed estimate >= the true count
    (cell sums can only add colliding mass, never lose it)."""
    from scalable_data_ingestion_spark import registry

    registry.load_all()
    rows = registry.QUERIES["sk_cms_token_estimates"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cms_estimate"] >= r["n"], r
        assert r["overestimate"] == r["cms_estimate"] - r["n"]


def test_zvalue_bijective(spark, sf_dir):
    """The Morton key decodes back to exactly (cust_bits, day_bits):
    interleaving loses nothing within the quantized domain."""
    from scalable_data_ingestion_spark import registry

    registry.load_all()
    rows = registry.QUERIES["zo_orders_zvalues"](spark, sf_dir).limit(500).collect()
    assert rows
    for r in rows:
        z = r["zval"]
        x = sum(((z >> (2 * i)) & 1) << i for i in range(8))
        y = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (x, y) == (r["cust_bits"], r["day_bits"]), r


def test_ewma_matches_pandas_ewm(spark, sf_dir):
    """The bucketed applyInPandas recurrence equals pandas
    ewm(alpha, adjust=False) per user (the library-standard EWMA)."""
    from scalable_data_ingestion_spark import registry
    from scalable_data_ingestion_spark.operators.timeseries import EWMA_ALPHA

    registry.load_all()
    pdf = (
        registry.QUERIES["ts_ewma_daily"](spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "day"])
    )
    assert len(pdf)
    for _, g in pdf.groupby("user_id"):
        expected = g["day_value"].ewm(alpha=EWMA_ALPHA, adjust=False).mean()
        assert (g["ewma"] - expected).abs().max() < 1e-9


# ---------------------------------------------------------------- round 4
# Scalable-ranking helpers vs the single-partition windows they replace,
# on adversarial value distributions (duplicates, negatives, constant
# runs) — the unit suite (test_ranking_helpers.py) covers structured
# cases; these throw arbitrary integer multisets at the offset
# arithmetic.
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=80
    )
)
def test_global_rank_property(spark, values):
    from pyspark.sql import Window as W

    from scalable_data_ingestion_spark.functions.ranking import global_rank

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["id", "v"]
    )
    got = global_rank(
        df, [F.col("v"), F.col("id")], "r", num_partitions=5
    )
    want = df.withColumn(
        "r", F.row_number().over(W.orderBy("v", "id")).cast("bigint")
    )
    assert sorted(got.select("id", "r").collect()) == sorted(
        want.select("id", "r").collect()
    )


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=60
    ),
    st.integers(min_value=1, max_value=9),
)
def test_global_ntile_property(spark, values, k):
    from pyspark.sql import Window as W

    from scalable_data_ingestion_spark.functions.ranking import global_ntile

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["id", "v"]
    )
    got = global_ntile(df, [F.col("v"), F.col("id")], k, "t", num_partitions=4)
    want = df.withColumn("t", F.ntile(k).over(W.orderBy("v", "id")).cast("int"))
    assert sorted(got.select("id", "t").collect()) == sorted(
        want.select("id", "t").collect()
    )


# float32 components: exact zeros of both signs (zero-heavy vectors),
# the unit range, and the whole finite float32 range down to subnormals.
F32 = st.one_of(
    st.sampled_from([0.0, -0.0]),
    st.floats(min_value=-1.0, max_value=1.0, width=32),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_cosine_block_matches_catalyst(spark, data):
    """cosine_block == the Catalyst `_dot / (_norm * _norm)` fold, bit for
    bit, on every (query, vector) pair of random float32 vectors."""
    import numpy as np

    from scalable_data_ingestion_spark.operators.similarity import (
        _dot,
        _norm,
        cosine_block,
    )

    dim = data.draw(st.integers(min_value=1, max_value=64))
    row = st.lists(F32, min_size=dim, max_size=dim).filter(any)
    Q = data.draw(st.lists(row, min_size=1, max_size=3))
    V = data.draw(st.lists(row, min_size=1, max_size=8))

    def frame(rows, i, e):
        return spark.createDataFrame(
            list(enumerate(rows)), "i long, e array<float>"
        ).select(F.col("i").alias(i), F.col("e").alias(e))

    got = (
        frame(Q, "qi", "qe")
        .crossJoin(frame(V, "vi", "ve"))
        .select("qi", "vi", (_dot("qe", "ve") / (_norm("qe") * _norm("ve"))).alias("c"))
        .collect()
    )
    block = cosine_block(np.array(Q, dtype=np.float64), np.array(V, dtype=np.float64))
    assert block.shape == (len(Q), len(V)) and len(got) == block.size
    for r in got:
        assert np.float64(r.c).tobytes() == block[r.qi, r.vi].tobytes(), (r, block)


# Lloyd-kernel components: signed zeros, the unit range and float32
# magnitudes up to 1e6, inside the fixed-point domain (|v| * 1e6 < 2**53)
# where floor(v * 1e6 + 0.5) is exact.
LLOYD_F32 = st.one_of(
    st.sampled_from([0.0, -0.0]),
    st.floats(min_value=-1.0, max_value=1.0, width=32),
    st.floats(min_value=-1e6, max_value=1e6, width=32),
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_lloyd_kernels_match_catalyst(spark, data):
    """The two Lloyd kernels against independent references, on up to
    three codebooks per example (one per subspace s):

    - lloyd_arrow.assign_rows == the `pq._sub_assign_exprs` literal fold
      PQ/RQ encode with: cluster id and distance bit for bit. Centroids
      are often copies of corpus rows or of each other (exact ties, which
      go to the lowest cid) and their cids are non-contiguous.
    - lloyd_arrow.sub_lloyd_partials == the per-(s, cid, d) Python-integer
      sums of floor(v * 1e6 + 0.5) and member counts over that
      assignment, zero rows included for centroids nobody chose."""
    import math
    from functools import reduce

    import numpy as np
    from pyspark.sql import DataFrame

    from scalable_data_ingestion_spark.operators.lloyd_arrow import (
        assign_rows,
        sub_lloyd_partials,
    )
    from scalable_data_ingestion_spark.operators.pq import _sub_assign_exprs

    dim = data.draw(st.integers(min_value=1, max_value=16))
    vec = st.lists(LLOYD_F32, min_size=dim, max_size=dim)
    rows, cents_by_s = [], {}
    for s in range(data.draw(st.integers(min_value=1, max_value=3))):
        xs = data.draw(st.lists(vec, min_size=1, max_size=12))
        cids = data.draw(
            st.lists(st.integers(0, 999), min_size=1, max_size=5, unique=True)
        )
        cents = []
        for cid in cids:
            copy = st.sampled_from(xs + [ce for _, ce in cents])
            cents.append((cid, data.draw(st.one_of(vec, copy))))
        cents_by_s[s] = cents
        rows += [(len(rows) + i, s, x) for i, x in enumerate(xs)]
    # from pandas: a local relation, no Python RDD behind every scan
    sub = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "s", "se"]),
        "vec_id long, s int, se array<double>",
    )

    cid_col, dist_col = _sub_assign_exprs(cents_by_s)
    want = {
        (r.s, r.vec_id): (r.cid, r.dist)
        for r in sub.select("vec_id", "s", cid_col.alias("cid"), dist_col.alias("dist"))
        .collect()
    }
    arrow = reduce(
        DataFrame.unionByName,
        [
            assign_rows(
                sub.filter(F.col("s") == s).select("vec_id", F.col("se").alias("emb")),
                cents,
                with_emb=False,
            ).withColumn("s", F.lit(s))
            for s, cents in cents_by_s.items()
        ],
    )
    got = {(r.s, r.vec_id): (r.cluster_id, r.dist) for r in arrow.collect()}
    assert got.keys() == want.keys()
    for key, (cid, dist) in want.items():
        assert got[key][0] == cid, (key, got[key], want[key])
        assert np.float64(got[key][1]).tobytes() == np.float64(dist).tobytes(), key

    ref = {
        (s, cid, d): (0, 0)
        for s, cents in cents_by_s.items()
        for cid, _ in cents
        for d in range(dim)
    }
    for vec_id, s, x in rows:
        cid = want[(s, vec_id)][0]
        for d, v in enumerate(x):
            fx, cnt = ref[(s, cid, d)]
            ref[(s, cid, d)] = (fx + math.floor(v * 1e6 + 0.5), cnt + 1)
    parts = {
        (r.s, r.cid, r.d): (r.fx, r.cnt) for r in sub_lloyd_partials(sub, cents_by_s)
    }
    assert parts == ref


def test_loo_candidate_kernel_matches_pairs(spark, sf_dir):
    """ml_knn_loo_accuracy's Arrow candidate kernel == the all-pairs
    broadcast formulation it replaced (round-11): identical 1-NN per
    query under the exact round(cosine, 6) / lowest-neighbor_id order,
    and bit-identical final rows."""
    from scalable_data_ingestion_spark.catalog import table
    from scalable_data_ingestion_spark.operators.similarity import (
        LOO_EVERY,
        _dot,
        _norm,
        ml_knn_loo_accuracy,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % LOO_EVERY == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
        _norm("embedding").alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("ve"),
        _norm("embedding").alias("vn"),
    )
    pairs = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "q_label",
            "n_label",
            "neighbor_id",
            F.round(_dot("qe", "ve") / (F.col("qn") * F.col("vn")), 6).alias(
                "cosine"
            ),
        )
    )
    nn_ref = pairs.groupBy("query_id", "q_label").agg(
        F.max_by(
            "n_label",
            F.struct(
                F.col("cosine").alias("c"),
                (-F.col("neighbor_id")).alias("nid"),
            ),
        ).alias("n_label")
    )
    hit = F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0)
    ref = nn_ref.groupBy(F.col("q_label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(hit).cast("bigint").alias("n_correct"),
        F.expr(
            "CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)"
            " * CAST(1000000 AS BIGINT) DIV count(*)"
        ).alias("accuracy_ppm"),
    )
    got = ml_knn_loo_accuracy(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_topk_candidate_kernel_matches_pairs(spark, sf_dir):
    """sim_abtt_recall's top-k Arrow candidate kernel == the broadcast
    all-pairs + ranking-window formulation it replaced (round-11):
    identical top-5 rows per query under the exact
    (round(cosine, 6) DESC, neighbor_id) order, on BOTH the raw and the
    ABTT-projected relations (the two relations the query ranks)."""
    from pyspark.sql import Window as W

    from scalable_data_ingestion_spark.catalog import table
    from scalable_data_ingestion_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        _dot,
        _norm,
        _topk_candidates,
    )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )

    def ref_topk(source):
        queries = source.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            _norm("emb").alias("qn"),
        )
        corpus = source.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("emb").alias("ve"),
            _norm("emb").alias("vn"),
        )
        pairs = (
            F.broadcast(queries)
            .crossJoin(corpus)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    _dot("qe", "ve") / (F.col("qn") * F.col("vn")), 6
                ).alias("cosine"),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    def kernel_topk(source):
        src = source.persist()
        qrows = src.filter(F.col("vec_id") < N_QUERIES).select(
            "vec_id", "emb"
        ).collect()
        cand = _topk_candidates(src, qrows, TOP_K)
        w = W.partitionBy("query_id").orderBy(
            F.round(F.col("cos_raw"), 6).desc(), F.col("neighbor_id")
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    for source in (e, e.select("vec_id", F.expr(
        "transform(emb, (x, i) -> x * CAST(1.0 + i / 100.0 AS DOUBLE))"
    ).alias("emb"))):
        got = sorted(map(tuple, kernel_topk(source).collect()))
        want = sorted(map(tuple, ref_topk(source).collect()))
        assert got == want and got
    spark.catalog.clearCache()
