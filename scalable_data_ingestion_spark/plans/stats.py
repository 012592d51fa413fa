"""Descriptive-statistics queries (A7/A8 analogs as oracle-checked
relational queries) + pivot.

A8 (src/storage.py:485-530) computes numeric describe + exact median;
here per-segment with exact percentiles (``F.percentile``; the
documented 100 TB knob is ``percentile_approx``). Pivot is the
value_counts-as-columns surface the reference renders in its report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.ranking import take_ordered_ranked
from ..operators._branches import explode_branches
from ..registry import register
from ..session import local_frame
from ..operators.orders_base import BASE_ORDERS_CTE, base_orders


@register(
    "a8_value_percentiles",
    oracle=f"""
    WITH {BASE_ORDERS_CTE}
    SELECT source,
           count(*) AS n_orders,
           round(avg(total_amount), 6) AS mean_value,
           round(stddev(total_amount), 6) AS std_value,
           round(min(total_amount), 2) AS min_value,
           round(max(total_amount), 2) AS max_value,
           round(quantile_cont(total_amount, 0.5), 6) AS median_value,
           round(quantile_cont(total_amount, 0.9), 6) AS p90_value
    FROM base
    GROUP BY source
    """,
)
def a8_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric describe + exact percentiles per source (A8)."""
    df = base_orders(spark, sf_dir)
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("total_amount"), 6).alias("mean_value"),
        F.round(F.stddev("total_amount"), 6).alias("std_value"),
        F.round(F.min("total_amount"), 2).alias("min_value"),
        F.round(F.max("total_amount"), 2).alias("max_value"),
        F.round(F.percentile("total_amount", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("total_amount", F.lit(0.9)), 6).alias("p90_value"),
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)   AS high,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS not_specified,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT)    AS low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: priority counts as columns per status."""
    orders = table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    return pivoted.select(
        "o_orderstatus",
        F.coalesce(F.col("`1-URGENT`"), F.lit(0)).alias("urgent"),
        F.coalesce(F.col("`2-HIGH`"), F.lit(0)).alias("high"),
        F.coalesce(F.col("`3-MEDIUM`"), F.lit(0)).alias("medium"),
        F.coalesce(F.col("`4-NOT SPECIFIED`"), F.lit(0)).alias("not_specified"),
        F.coalesce(F.col("`5-LOW`"), F.lit(0)).alias("low"),
    )


def _deletion_variants(col: str, length: int = 9, k: int = 2):
    """All strings reachable from ``col`` by deleting up to ``k``
    characters (FastSS deletion neighborhood), as pure substring/concat
    expressions — JVM-side, no UDF. Fixed-width input assumed (the
    normalized TPC-H party ids are zero-padded 9-digit keys); for
    variable-length text use dynamic Pass-Join partitioning instead."""
    variants = [F.col(col)]
    for i in range(length):  # delete position i
        variants.append(F.concat(F.substring(col, 1, i), F.substring(col, i + 2, length)))
    for i in range(length):  # delete positions i < j
        for j in range(i + 1, length):
            variants.append(
                F.concat(
                    F.substring(col, 1, i),
                    F.substring(col, i + 2, j - i - 1),
                    F.substring(col, j + 2, length),
                )
            )
    return F.array_distinct(F.array(*variants))


@register(
    "fz_party_name_matches",
    oracle="""
    SELECT s_suppkey, c_custkey,
           CAST(levenshtein(
             replace(s_name, 'Supplier#', ''),
             replace(c_name, 'Customer#', '')) AS INTEGER) AS edit_distance
    FROM supplier JOIN customer
      ON levenshtein(replace(s_name, 'Supplier#', ''),
                     replace(c_name, 'Customer#', '')) <= 2
    """,
)
def fz_party_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching via edit distance on normalized ids.

    Candidate generation is a deletion-neighborhood (FastSS) equi-join:
    each 9-digit key explodes into its <=46 distinct <=2-deletion
    variants and pairs join on variant equality, then exact levenshtein
    verifies. Recall is exact — lev(s,t) <= 2 implies a common
    subsequence of length >= 7 reachable by <= 2 deletions from each
    side, so the pair shares a variant. This replaces the round-1
    broadcast cross join: the plan is a hash equi-join keyed on short
    variant strings, never O(|S| x |C|) pairs. (Segment/prefix blocking
    degenerates on zero-padded keys — every key starts '000…' — which
    is why the deletion neighborhood is the right blocker here.)
    """
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.regexp_replace("s_name", "Supplier#", "").alias("sn")
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", F.regexp_replace("c_name", "Customer#", "").alias("cn")
    )
    s_var = supp.select(
        "s_suppkey", "sn", F.explode(_deletion_variants("sn")).alias("v")
    )
    c_var = cust.select(
        "c_custkey", "cn", F.explode(_deletion_variants("cn")).alias("v")
    )
    cand = (
        F.broadcast(s_var)
        .join(c_var, "v")
        .select("s_suppkey", "sn", "c_custkey", "cn")
        .distinct()
    )
    dist = F.levenshtein("sn", "cn")
    return cand.filter(dist <= 2).select(
        "s_suppkey", "c_custkey", dist.cast("int").alias("edit_distance")
    )


# --------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs bought in the same order. The
# classic self-join-on-basket shape (recommendation/affinity mining):
# distinct (order, part) -> pair join with part_a < part_b -> count ->
# deterministic top-k. At 100 TB the basket relation is bucketed by
# l_orderkey so the pair join is co-located; hot mega-baskets are capped
# upstream (the DF_CAP idea from LSH shingling) to bound the quadratic
# per-basket blowup.
# --------------------------------------------------------------------------
@register(
    "mb_copurchased_parts",
    oracle="""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM basket a
    JOIN basket b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def mb_copurchased_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = basket.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Fixed-width histogram (profiling primitive): order values bucketed by
# integer division — deterministic bin edges, no float boundaries.
# --------------------------------------------------------------------------
@register(
    "hist_order_value_buckets",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS bucket_min,
           round(max(o_totalprice), 2) AS bucket_max
    FROM orders
    GROUP BY bucket
    """,
)
def hist_order_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
    )


# --------------------------------------------------------------------------
# IQR outlier detection per group (data-curation primitive): lineitem
# prices beyond q3 + 0.35*IQR of their part type (the fence multiplier
# is tuned to this bounded synthetic distribution, whose max sits ~0.5
# IQR above q3; real long-tailed data would use the classic 1.5). Exact percentiles are
# selections over stored values; the fence arithmetic is a single IEEE
# expression — identical in both engines.
# --------------------------------------------------------------------------
@register(
    "qa_price_outliers_iqr",
    oracle="""
    WITH joined AS (
      SELECT p_type, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    fences AS (
      SELECT p_type,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM joined GROUP BY p_type
    )
    SELECT j.p_type,
           count(*) AS n_outliers,
           round(min(l_extendedprice), 2) AS min_outlier_price
    FROM joined j
    JOIN fences f ON j.p_type = f.p_type
    WHERE l_extendedprice > q3 + 0.35 * (q3 - q1)
    GROUP BY j.p_type
    """,
)
def qa_price_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_type", "l_extendedprice"
    )
    fences = joined.groupBy(F.col("p_type").alias("f_type")).agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("q1"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("q3"),
    )
    return (
        joined.join(F.broadcast(fences), F.col("p_type") == F.col("f_type"))
        .filter(
            F.col("l_extendedprice")
            > F.col("q3") + 0.35 * (F.col("q3") - F.col("q1"))
        )
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.round(F.min("l_extendedprice"), 2).alias("min_outlier_price"),
        )
    )


# --------------------------------------------------------------------------
# Equi-depth (decile) histogram — the partner of the equi-width
# histogram above. Boundaries come from one exact grouped percentile
# pass (a 1-row result broadcast back), bucket assignment is a pure
# expression fold over the cut array: NO ntile over a global sort, so
# the plan scales — the only wide operation is the percentile
# aggregate itself.
# --------------------------------------------------------------------------
N_DEPTH_BUCKETS = 10


@register(
    "hist_equidepth_price",
    oracle=f"""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice,
               [{", ".join(str((i + 1) / N_DEPTH_BUCKETS) for i in range(N_DEPTH_BUCKETS - 1))}]) AS qs
      FROM orders
    ),
    assigned AS (
      SELECT o.o_totalprice,
             len(list_filter(c.qs, q -> o.o_totalprice > q)) AS bucket
      FROM orders o CROSS JOIN cuts c
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM assigned
    GROUP BY bucket
    """,
)
def hist_equidepth_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile histogram of order totals with exact quantile boundaries.

    Bucket index = number of cut points strictly below the value
    (identical tie rule in both engines over identical cut doubles).
    """
    orders = table(spark, sf_dir, "orders")
    qs = [(i + 1) / N_DEPTH_BUCKETS for i in range(N_DEPTH_BUCKETS - 1)]
    cuts = orders.agg(
        F.percentile("o_totalprice", F.array(*[F.lit(q) for q in qs])).alias("qs")
    )
    assigned = orders.crossJoin(F.broadcast(cuts)).select(
        "o_totalprice",
        F.expr(
            "aggregate(qs, 0, (acc, q) ->"
            " acc + CASE WHEN o_totalprice > q THEN 1 ELSE 0 END)"
        ).alias("bucket"),
    )
    return assigned.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


# --------------------------------------------------------------------------
# Deterministic Poisson bootstrap: confidence interval for the mean
# document length without a second pass over the data per replica.
#
# The online-bootstrap trick (Chamandy et al., "Estimating Uncertainty
# for Massive Data Streams", Google 2012): each record enters replica b
# with weight ~ Poisson(1), so all B resampled means are computed in
# ONE aggregation over records x replicas. The Poisson draw here is the
# inverse CDF applied to an md5-derived uniform of (doc_id, b) — a pure
# function of the data (the repo-wide hash-randomness policy), so both
# engines materialize the identical resample.
#
# Exactness: replica sums are BIGINT (weight x n_chars); each replica
# mean is one scalar division; the CI bounds are order statistics of
# the B means under a (mean, b) total order. No float accumulates.
#
# Scale: the explode is x B map-side; the aggregation reduces to B
# rows with map-side partial sums — the shuffle carries <= B cells per
# task regardless of corpus size (the CMS/HLL sketch property).
# --------------------------------------------------------------------------
BOOT_B = 32
# Poisson(1) CDF thresholds for the inverse-CDF draw (k = 0..8, tail
# capped at 9). Literal doubles, identical in both engines.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
    0.9999988747974696,
)
_HEX6_DEN = float(16**6)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE 9 END)"


def _hex6_sql(expr: str) -> str:
    digit = lambda pos: (  # noqa: E731
        f"(CASE substr({expr}, {pos}, 1) "
        + " ".join(f"WHEN '{h}' THEN {i}" for i, h in enumerate("0123456789abcdef"))
        + " END)"
    )
    return "(" + " + ".join(f"{digit(i + 1)} * {16 ** (5 - i)}" for i in range(6)) + ")"


@register(
    "stat_bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b),
    weighted AS (
      SELECT r.b,
             {_pois_case_sql(
                 "(" + _hex6_sql("md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(r.b AS VARCHAR))")
                 + f" / {_HEX6_DEN!r})"
             )} AS w,
             d.n_chars
      FROM documents d CROSS JOIN reps r
    ),
    boot AS (
      SELECT b,
             CAST(sum(w * n_chars) AS BIGINT) AS wx,
             CAST(sum(w) AS BIGINT) AS wn
      FROM weighted GROUP BY b
    ),
    means AS (
      SELECT b, CAST(wx AS DOUBLE) / wn AS m,
             row_number() OVER (ORDER BY CAST(wx AS DOUBLE) / wn, b) AS rnk
      FROM boot
    ),
    pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sx
      FROM documents
    )
    SELECT {BOOT_B} AS n_replicas, n_docs,
           round(CAST(sx AS DOUBLE) / n_docs, 6) AS mean_chars,
           round((SELECT m FROM means WHERE rnk = 2), 6) AS boot_lo,
           round((SELECT m FROM means WHERE rnk = {BOOT_B - 1}), 6) AS boot_hi
    FROM pt
    """,
)
def stat_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI (rank-2 / rank-{BOOT_B - 1} of {BOOT_B}
    replica means, ~5th/95th pct) for the mean document length, from
    one aggregation pass with md5-deterministic weights."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(_HEX6_DEN)
    )
    w = F.lit(9)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[k], k).otherwise(w)
    boot = (
        reps.select("b", w.alias("w"), "n_chars")
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).cast("bigint").alias("wx"),
            F.sum("w").cast("bigint").alias("wn"),
        )
    )
    means = boot.select(
        "b", (F.col("wx").cast("double") / F.col("wn")).alias("m")
    ).withColumn("rnk", F.row_number().over(W.orderBy("m", "b")))
    lo = means.filter(F.col("rnk") == 2).select(F.round("m", 6).alias("boot_lo"))
    hi = means.filter(F.col("rnk") == BOOT_B - 1).select(
        F.round("m", 6).alias("boot_hi")
    )
    pt = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sx"),
    )
    return (
        pt.select(
            F.lit(BOOT_B).alias("n_replicas"),
            "n_docs",
            F.round(F.col("sx").cast("double") / F.col("n_docs"), 6).alias(
                "mean_chars"
            ),
        )
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
    )


# --------------------------------------------------------------------------
# Association rules over the co-purchase baskets: the
# support/confidence/lift layer on top of mb_copurchased_parts (pair
# counts alone rank by popularity; LIFT ranks by how much more often
# the pair occurs than independence predicts — the actual
# recommendation signal). Directed rules A -> B with
#   support    = n_ab / N
#   confidence = n_ab / n_a
#   lift       = n_ab * N / (n_a * n_b)
# computed as scalar ops over exact integer counts (pair counts, item
# counts, basket count), so both engines rank identically.
#
# Scale: pair counts come from the order-bounded basket self-join
# (fan-out ~ order size); item counts and N are broadcast-sized; the
# final top-k is a TakeOrderedAndProject with a full tiebreak.
# --------------------------------------------------------------------------
RULES_MIN_PAIR = 2
RULES_TOPK = 25


@register(
    "mb_association_rules",
    oracle=f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM basket),
    item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
             FROM basket GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {RULES_MIN_PAIR}
    ),
    scored AS (
      SELECT p.part_a, p.part_b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
             round(CAST(p.n_ab AS DOUBLE) / n.n_orders, 6) AS support,
             round(CAST(p.n_ab AS DOUBLE) / ia.n_item, 6) AS confidence,
             CAST(p.n_ab AS DOUBLE) * n.n_orders / (ia.n_item * ib.n_item) AS lift_raw
      FROM pair p
      JOIN item ia ON ia.l_partkey = p.part_a
      JOIN item ib ON ib.l_partkey = p.part_b
      CROSS JOIN n
    ),
    ranked AS (
      SELECT part_a, part_b, n_ab, support, confidence,
             round(lift_raw, 6) AS lift,
             row_number() OVER (ORDER BY lift_raw DESC, part_a, part_b) AS rnk
      FROM scored
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, part_a, part_b, n_ab,
           support, confidence, lift
    FROM ranked WHERE rnk <= {RULES_TOPK}
    """,
)
def mb_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RULES_TOPK} directed co-purchase rules by lift (minimum
    pair support {RULES_MIN_PAIR}), from exact integer counts."""
    from pyspark.sql import Window as W

    basket = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    ).cache()
    n = basket.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    item = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_item")
    )
    a, b = basket.alias("a"), basket.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= RULES_MIN_PAIR)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    scored = (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias(
                "confidence"
            ),
            (
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift_raw"),
        )
    )
    # TakeOrderedAndProject top-k; only the K survivors see a window
    # (never rank every co-purchase pair through one partition)
    ranked = take_ordered_ranked(
        scored,
        [F.col("lift_raw").desc(), F.col("part_a"), F.col("part_b")],
        RULES_TOPK,
        "rnk",
    )
    return ranked.select(
        F.col("rnk").cast("int").alias("rnk"),
        "part_a",
        "part_b",
        "n_ab",
        "support",
        "confidence",
        F.round("lift_raw", 6).alias("lift"),
    )


# --------------------------------------------------------------------------
# Exact weighted median: the token-mass-weighted median document
# length per source — "the length of the document in the MIDDLE OF THE
# TOKEN BUDGET", the right centering statistic when records contribute
# unequal mass (a plain median over-weights short docs). Computed with
# integer cumulative sums: the answer is the smallest length whose
# running token mass reaches half the total (2*cum >= total, no float
# halves).
#
# Scale: one (source, length) pre-aggregation shrinks the window input
# to distinct lengths per source; the cumulative window partitions by
# source — no global sort, no single-partition window.
# --------------------------------------------------------------------------
@register(
    "stat_weighted_median_len",
    oracle=r"""
    WITH w AS (
      SELECT source, n_chars,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                 AS mass
      FROM documents GROUP BY source, n_chars
    ),
    cum AS (
      SELECT source, n_chars, mass,
             sum(mass) OVER (PARTITION BY source ORDER BY n_chars
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum_mass,
             sum(mass) OVER (PARTITION BY source) AS total_mass
      FROM w
    )
    SELECT source,
           CAST(min(CASE WHEN 2 * cum_mass >= total_mass THEN n_chars END)
                AS BIGINT) AS weighted_median_chars,
           CAST(max(total_mass) AS BIGINT) AS total_tokens
    FROM cum
    GROUP BY source
    """,
)
def stat_weighted_median_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass-weighted median of document length per source, from
    exact integer cumulative sums."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    w = docs.groupBy("source", "n_chars").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("mass")
    )
    win = W.partitionBy("source").orderBy("n_chars").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    tot = W.partitionBy("source")
    cum = w.select(
        "source",
        "n_chars",
        F.sum("mass").over(win).alias("cum_mass"),
        F.sum("mass").over(tot).alias("total_mass"),
    )
    return cum.groupBy("source").agg(
        F.min(
            F.when(2 * F.col("cum_mass") >= F.col("total_mass"), F.col("n_chars"))
        )
        .cast("bigint")
        .alias("weighted_median_chars"),
        F.max("total_mass").cast("bigint").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# Fulfillment SLA: ship lead-time percentiles per order priority —
# the operational twin of the A8 value percentiles (same exact-
# percentile idiom, applied to the order->ship latency the priority
# field is supposed to control). Lead times are integer day
# differences; percentiles interpolate identically cross-engine
# (percentile() vs quantile_cont over identical integer multisets).
# --------------------------------------------------------------------------
@register(
    "sla_ship_leadtime",
    oracle="""
    WITH lt AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS lead_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(quantile_cont(lead_days, 0.5), 6) AS p50_days,
           round(quantile_cont(lead_days, 0.9), 6) AS p90_days,
           round(quantile_cont(lead_days, 0.99), 6) AS p99_days,
           CAST(max(lead_days) AS BIGINT) AS max_days
    FROM lt GROUP BY priority
    """,
)
def sla_ship_leadtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 order->ship lead time (days) per priority."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lt = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lead_days"),
    )
    return lt.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(F.percentile("lead_days", F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile("lead_days", F.lit(0.9)), 6).alias("p90_days"),
        F.round(F.percentile("lead_days", F.lit(0.99)), 6).alias("p99_days"),
        F.max("lead_days").cast("bigint").alias("max_days"),
    )


# --------------------------------------------------------------------------
# Revenue concentration: exact Gini coefficient + top-decile share of
# customer lifetime value. The whale-risk metric — a Gini near 1 means
# a handful of customers carry the business (and a handful of HOT KEYS
# carry the joins: this is also the data-skew audit for the customer
# dimension, quantifying what sk_join_key_skew_report samples).
#
#   G = (2 * sum(i * x_(i)) / (n * sum(x))) - (n + 1) / n
#
# computed over BIGINT cents with the rank window tie-broken by
# custkey; the i*x products sum in DECIMAL(38,0) so the statistic is
# exact under any shuffle order.
# --------------------------------------------------------------------------
@register(
    "stat_revenue_gini",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i,
             count(*) OVER () AS n
      FROM cust
    ),
    agg AS (
      SELECT max(n) AS n,
             sum(CAST(cents AS DECIMAL(38,0))) AS sx,
             sum(CAST(i AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS six,
             sum(CASE WHEN i > n - n // 10
                      THEN CAST(cents AS DECIMAL(38,0)) ELSE 0 END) AS top_decile
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(2.0 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini,
           round(CAST(top_decile AS DOUBLE) / CAST(sx AS DOUBLE), 6)
               AS top_decile_share
    FROM agg
    """,
)
def stat_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient and top-10%-customer revenue share from
    BIGINT cents and DECIMAL(38,0) rank-weighted sums.

    The rank-weighted sum needs EVERY customer's rank — computed by the
    range-partitioned offset ranking (``global_rank``) with the total
    count broadcast, never a single-partition window."""
    from ..functions.ranking import global_rank

    orders = table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    tot = cust.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_rank(
        cust, [F.col("cents"), F.col("o_custkey")], "i"
    ).crossJoin(F.broadcast(tot)).select("cents", "i", "n")
    agg = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")
        ).alias("six"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.expr("n DIV 10"),
                F.col("cents").cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("top_decile"),
    )
    n = F.col("n")
    return agg.select(
        n.cast("bigint").alias("n_customers"),
        F.round(
            2.0 * F.col("six").cast("double") / (n * F.col("sx").cast("double"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
        F.round(
            F.col("top_decile").cast("double") / F.col("sx").cast("double"), 6
        ).alias("top_decile_share"),
    )


# --------------------------------------------------------------------------
# Equi-depth histogram construction — the ANALYZE TABLE statistic a
# cost-based optimizer keeps per column (Spark's own
# `spark.sql.statistics.histogram.enabled` builds exactly this). Eight
# buckets whose boundaries are the exact continuous octile quantiles
# of order value; per bucket the row count (≈ n/8 by construction —
# THE equi-depth property), distinct-value count, and min/max. The
# boundary quantiles come from global_quantiles_cont: one
# range-partitioned ranking pass for all seven cut points, no
# single-reducer percentile.
# --------------------------------------------------------------------------
EQD_BUCKETS = 8
_EQD_QS = {f"b{i}": i / EQD_BUCKETS for i in range(1, EQD_BUCKETS)}


def _eqd_bucket_case(val: str) -> str:
    whens = " ".join(
        f"WHEN {val} <= b{i} THEN {i - 1}" for i in range(1, EQD_BUCKETS)
    )
    return f"CASE {whens} ELSE {EQD_BUCKETS - 1} END"


_EQD_ORACLE = f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
q AS (
  SELECT {", ".join(
      f"quantile_cont(c, {i}.0 / {EQD_BUCKETS}) AS b{i}"
      for i in range(1, EQD_BUCKETS)
  )}
  FROM cents
),
tagged AS (
  SELECT c, {_eqd_bucket_case("c")} AS bucket FROM cents CROSS JOIN q
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT c) AS BIGINT) AS ndv,
       round(min(c) / 100.0, 2) AS lo_value,
       round(max(c) / 100.0, 2) AS hi_value
FROM tagged
GROUP BY bucket
"""


@register("opt_equidepth_histogram", oracle=_EQD_ORACLE)
def opt_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{EQD_BUCKETS}-bucket equi-depth histogram of order value (the
    CBO column statistic): per bucket the row count, NDV, and value
    range, with exact continuous quantile boundaries."""
    from ..functions.ranking import global_quantiles_cont

    orders = table(spark, sf_dir, "orders")
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    ).persist()
    q = global_quantiles_cont(cents, F.col("c"), _EQD_QS).drop("n")
    tagged = cents.crossJoin(F.broadcast(q)).select(
        "c", F.expr(_eqd_bucket_case("c")).alias("bucket")
    )
    return tagged.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("c").cast("bigint").alias("ndv"),
        F.round(F.min("c") / 100.0, 2).alias("lo_value"),
        F.round(F.max("c") / 100.0, 2).alias("hi_value"),
    ).select(
        F.col("bucket").cast("int").alias("bucket"),
        "n_rows",
        "ndv",
        "lo_value",
        "hi_value",
    )


# --------------------------------------------------------------------------
# Higher distribution moments — per-segment skewness and excess
# kurtosis of order value, the two numbers that say WHY a mean/stddev
# pair misleads (heavy right tail? fat tails?). Computed from the four
# raw power sums in one grouped pass (the distributed-moments shape:
# partial-aggregating, no percentile, no second scan).
#
# Exactness: values quantize to integer DOLLARS; S1..S4 accumulate in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — d^4 <= ~1e23 and corpus
# sums stay far under 1e38, so every moment sum is EXACT in both
# engines and converts to the identical IEEE double once; the central-
# moment algebra then runs the same closed form in both engines.
# --------------------------------------------------------------------------
@register(
    "stat_skew_kurtosis_by_segment",
    oracle="""
    WITH base AS (
      SELECT c_mktsegment,
             CAST(round(o_totalprice) AS BIGINT) AS d
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    sums AS (
      SELECT c_mktsegment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(CAST(d AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS s1,
             CAST(CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS DOUBLE) AS s2,
             CAST(CAST(sum(CAST(d AS HUGEINT) * d * d) AS HUGEINT) AS DOUBLE)
                 AS s3,
             CAST(CAST(sum(CAST(d AS HUGEINT) * d * d * d) AS HUGEINT)
                  AS DOUBLE) AS s4
      FROM base GROUP BY 1
    )
    SELECT c_mktsegment, n,
           round(s1 / n, 6) AS mean_dollars,
           round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS stddev_pop,
           round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n)
                  * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 2.0) - 3, 6)
               AS excess_kurtosis
    FROM sums
    """,
)
def stat_skew_kurtosis_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment skewness and excess kurtosis of order value from
    exact 128-bit raw power sums (integer-dollar grid)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    base = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment", F.round("o_totalprice").cast("bigint").alias("d")
    )
    dd = F.col("d").cast("decimal(38,0)")
    sums = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dd).cast("decimal(38,0)").cast("double").alias("s1"),
        F.sum(dd * F.col("d")).cast("decimal(38,0)").cast("double").alias("s2"),
        F.sum(dd * F.col("d") * F.col("d"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("s3"),
        F.sum(dd * F.col("d") * F.col("d") * F.col("d"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    return sums.select(
        "c_mktsegment",
        "n",
        F.round(mu, 6).alias("mean_dollars"),
        F.round(F.sqrt(m2), 6).alias("stddev_pop"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / F.pow(m2, 2.0) - 3, 6).alias("excess_kurtosis"),
    )


# --------------------------------------------------------------------------
# Column encoding statistics — the write-side advisor behind parquet
# encoding choices: per column, cardinality, skew of the value
# histogram (top share), Shannon entropy, the dictionary code width
# ceil(log2 ndv), and the average literal width. entropy_bits <<
# plain width and small ndv → dictionary/RLE wins; entropy near the
# literal width → leave it plain. The same numbers drive sort-key
# choice (low-entropy columns first maximizes run length).
#
# Exactness: one stacked (col, value) grain pass; entropy comes from
# H = ln N - (Σ n_v ln n_v)/N with each n_v ln n_v floored into 1e-6
# fixed point (BIGINT-summed, shuffle-order independent); every other
# stat is an integer count. No per-column rescans.
# --------------------------------------------------------------------------
_ENC_COLUMNS = (
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
    "o_custkey",
    "o_totalprice",
)


@register(
    "opt_column_encoding_stats",
    oracle=f"""
    WITH stacked AS (
      {" UNION ALL ".join(
          f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS val FROM orders"
          for c in _ENC_COLUMNS
      )}
    ),
    grain AS (
      SELECT col_name, val, CAST(count(*) AS BIGINT) AS n
      FROM stacked GROUP BY 1, 2
    ),
    per_col AS (
      SELECT col_name,
             CAST(sum(n) AS BIGINT) AS n_values,
             CAST(count(*) AS BIGINT) AS ndv,
             CAST(max(n) AS BIGINT) AS max_freq,
             CAST(sum(CAST(floor(n * ln(n) * 1000000) AS BIGINT)) AS BIGINT)
                 AS s_nlogn_fx,
             CAST(sum(CAST(length(val) AS BIGINT) * n) AS BIGINT) AS s_chars
      FROM grain GROUP BY 1
    )
    SELECT col_name, n_values, ndv, max_freq,
           round(max_freq * 1.0 / n_values, 6) AS top_share,
           round((ln(n_values) - s_nlogn_fx / (1000000.0 * n_values))
                 / ln(2), 6) AS entropy_bits,
           CAST(ceil(ln(ndv) / ln(2)) AS BIGINT) AS dict_bits,
           round(s_chars * 1.0 / n_values, 2) AS avg_val_chars
    FROM per_col
    """,
)
def opt_column_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column cardinality / skew / entropy / code-width stats for
    encoding and sort-key decisions, in one stacked pass over orders."""
    orders = table(spark, sf_dir, "orders")
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in _ENC_COLUMNS
    )
    stacked = orders.select(
        F.expr(f"stack({len(_ENC_COLUMNS)}, {stack_args}) AS (col_name, val)")
    )
    grain = stacked.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_col = grain.groupBy("col_name").agg(
        F.sum("n").cast("bigint").alias("n_values"),
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
        F.max("n").cast("bigint").alias("max_freq"),
        F.sum(
            F.floor(F.col("n") * F.log(F.col("n").cast("double")) * 1000000).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("s_nlogn_fx"),
        F.sum(F.length("val").cast("bigint") * F.col("n"))
        .cast("bigint")
        .alias("s_chars"),
    )
    n = F.col("n_values")
    return per_col.select(
        "col_name",
        "n_values",
        "ndv",
        "max_freq",
        F.round(F.col("max_freq") * 1.0 / n, 6).alias("top_share"),
        F.round(
            (F.log(n.cast("double")) - F.col("s_nlogn_fx") / (1000000.0 * n))
            / F.log(F.lit(2.0)),
            6,
        ).alias("entropy_bits"),
        F.ceil(F.log(F.col("ndv").cast("double")) / F.log(F.lit(2.0)))
        .cast("bigint")
        .alias("dict_bits"),
        F.round(F.col("s_chars") * 1.0 / n, 2).alias("avg_val_chars"),
    )


# --------------------------------------------------------------------------
# Join-cardinality estimation q-error — the CBO sanity report: the
# textbook uniformity estimate |R ⋈ S| ≈ |R|·|S| / max(ndv_R, ndv_S)
# for two real joins (orders⋈lineitem on orderkey — a PK/FK join the
# estimator nails; lineitem⋈lineitem on partkey — a self-join whose
# skew the uniformity assumption underestimates), next to the exact
# size and the q-error max(est/actual, actual/est). The q-error
# quantifies how much a plan picked from these stats can be off —
# this is the number optimizer papers report, computed on the
# engine's own data.
#
# Exactness: NDVs and actual sizes are exact grouped counts (the
# actual self-join size is sum over keys of cnt^2 — computed from the
# key histogram, never by materializing the join); the estimate is
# integer floor division; q-error is one rounded scalar.
# Scale: two key-grain reductions; nothing joins.
# --------------------------------------------------------------------------
@register(
    "opt_join_qerror",
    oracle="""
    WITH ok AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ),
    pk AS (
      SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ),
    orders_side AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv_orders
      FROM orders
    ),
    li_ok AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_li,
             CAST(count(*) AS BIGINT) AS ndv_ok,
             CAST(sum(c * c) AS BIGINT) AS self_ok
      FROM ok
    ),
    li_pk AS (
      SELECT CAST(count(*) AS BIGINT) AS ndv_pk,
             CAST(sum(c * c) AS BIGINT) AS self_pk,
             CAST(sum(c) AS BIGINT) AS n_li2
      FROM pk
    ),
    joins AS (
      SELECT 'orders_lineitem_orderkey' AS join_name,
             o.n_orders * l.n_li // greatest(o.ndv_orders, l.ndv_ok)
                 AS est_rows,
             l.n_li AS actual_rows
      FROM orders_side o CROSS JOIN li_ok l
      UNION ALL
      SELECT 'lineitem_self_partkey' AS join_name,
             p.n_li2 * p.n_li2 // p.ndv_pk AS est_rows,
             p.self_pk AS actual_rows
      FROM li_pk p
    )
    SELECT join_name,
           CAST(est_rows AS BIGINT) AS est_rows,
           CAST(actual_rows AS BIGINT) AS actual_rows,
           round(greatest(est_rows * 1.0 / actual_rows,
                          actual_rows * 1.0 / est_rows), 6) AS q_error
    FROM joins
    """,
)
def opt_join_qerror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniformity-assumption join-size estimates vs exact sizes (from
    key histograms, never a materialized join) with q-errors."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ok = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pk = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    orders_side = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct("o_orderkey").cast("bigint").alias("ndv_orders"),
    )
    li_ok = ok.agg(
        F.sum("c").cast("bigint").alias("n_li"),
        F.count(F.lit(1)).cast("bigint").alias("ndv_ok"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("self_ok"),
    )
    li_pk = pk.agg(
        F.count(F.lit(1)).cast("bigint").alias("ndv_pk"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("self_pk"),
        F.sum("c").cast("bigint").alias("n_li2"),
    )
    j1 = (
        orders_side.crossJoin(F.broadcast(li_ok))
        .select(
            F.lit("orders_lineitem_orderkey").alias("join_name"),
            F.expr("n_orders * n_li DIV greatest(ndv_orders, ndv_ok)").alias(
                "est_rows"
            ),
            F.col("n_li").alias("actual_rows"),
        )
    )
    j2 = li_pk.select(
        F.lit("lineitem_self_partkey").alias("join_name"),
        F.expr("n_li2 * n_li2 DIV ndv_pk").alias("est_rows"),
        F.col("self_pk").alias("actual_rows"),
    )
    joins = j1.unionByName(j2)
    return joins.select(
        "join_name",
        F.col("est_rows").cast("bigint").alias("est_rows"),
        F.col("actual_rows").cast("bigint").alias("actual_rows"),
        F.round(
            F.greatest(
                F.col("est_rows") * 1.0 / F.col("actual_rows"),
                F.col("actual_rows") * 1.0 / F.col("est_rows"),
            ),
            6,
        ).alias("q_error"),
    )


# --------------------------------------------------------------------------
# Business-day lead time — sla_ship_leadtime counts calendar days;
# contractual SLAs count WEEKDAYS. The weekday count is pure integer
# arithmetic on the epoch day index (1992-01-01 is a Wednesday, so
# wd = (dy + 2) % 7 with 0 = Monday; each 7-block holds 5 weekdays at
# positions {0,1,2,5,6} of the dy%7 cycle, so weekdays_before(d) =
# 5*(d DIV 7) + prefix_lut(d % 7)) — no date functions, no engine
# dow-convention mismatch, exact in both engines.
#
# Scale: the same orderkey join layout as the calendar-day SLA; all
# new math is map-side projection.
# --------------------------------------------------------------------------
def _weekdays_before(col: str) -> str:
    # prefix counts of weekday flags within the dy%7 cycle 2,3,4,5,6,0,1
    lut = "CASE ({c}) % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 " \
          "WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 3 ELSE 4 END"
    return f"(5 * (({col}) DIV 7) + {lut.format(c=col)})"


def _weekdays_before_duck(col: str) -> str:
    lut = "CASE ({c}) % 7 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 " \
          "WHEN 3 THEN 3 WHEN 4 THEN 3 WHEN 5 THEN 3 ELSE 4 END"
    return f"(5 * (({col}) // 7) + {lut.format(c=col)})"


@register(
    "sla_business_day_leadtime",
    oracle=f"""
    WITH lt AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE))
                 AS c_dy,
             date_diff('day', DATE '1992-01-01', CAST(l.l_shipdate AS DATE))
                 AS s_dy
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    biz AS (
      SELECT priority,
             {_weekdays_before_duck("s_dy + 1")}
             - {_weekdays_before_duck("c_dy + 1")} AS biz_days
      FROM lt
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(biz_days) * 1.0 / count(*), 6) AS mean_biz_days,
           round(quantile_cont(biz_days, 0.5), 6) AS p50_biz_days,
           round(quantile_cont(biz_days, 0.9), 6) AS p90_biz_days,
           CAST(max(biz_days) AS BIGINT) AS max_biz_days
    FROM biz GROUP BY priority
    """,
)
def sla_business_day_leadtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order->ship lead time in WEEKDAYS per priority (pure integer
    epoch-day arithmetic; exact percentiles over 5 groups)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    epoch = F.lit("1992-01-01").cast("date")
    lt = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("c_dy"),
        F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("s_dy"),
    )
    biz = lt.select(
        "priority",
        (
            F.expr(_weekdays_before("s_dy + 1"))
            - F.expr(_weekdays_before("c_dy + 1"))
        ).alias("biz_days"),
    )
    return biz.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(F.sum("biz_days") * 1.0 / F.count(F.lit(1)), 6).alias(
            "mean_biz_days"
        ),
        F.round(F.percentile("biz_days", F.lit(0.5)), 6).alias("p50_biz_days"),
        F.round(F.percentile("biz_days", F.lit(0.9)), 6).alias("p90_biz_days"),
        F.max("biz_days").cast("bigint").alias("max_biz_days"),
    )


# --------------------------------------------------------------------------
# Conjunction-selectivity q-error — how wrong is the optimizer's
# attribute-independence assumption (sel(A AND B) = sel(A)*sel(B)) on
# this data? For four predicate pairs over orders, the estimated vs
# actual conjunctive selectivity and the q-error (the optimizer-
# literature metric opt_join_qerror applies to join sizes). Pairs
# that share a hidden correlate (e.g. status and quarter both track
# order age) blow past q=2 — exactly the rows a CBO's multi-column
# statistics would fix.
#
# Scale shape: ONE conditional-count pass over the fact computes all
# nine counts; the 4-row comparison is a literal stack. Exact BIGINT
# counts; ratios are fixed double expressions.
# --------------------------------------------------------------------------
_SEL_A = "o_orderpriority = '1-URGENT'"
_SEL_B = "o_orderstatus = 'F'"
_SEL_C = "quarter(CAST(o_orderdate AS DATE)) = 1"
_SEL_D = "o_totalprice > 100000"
_SEL_PAIRS = (
    ("urgent&final", "ca", "cb", "cab"),
    ("urgent&q1", "ca", "cc", "cac"),
    ("final&bigticket", "cb", "cd", "cbd"),
    ("q1&bigticket", "cc", "cd", "ccd"),
)


@register(
    "opt_conjunction_selectivity",
    oracle=f"""
    WITH counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN {_SEL_A} THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN {_SEL_B} THEN 1 ELSE 0 END) AS BIGINT) AS cb,
             CAST(sum(CASE WHEN {_SEL_C} THEN 1 ELSE 0 END) AS BIGINT) AS cc,
             CAST(sum(CASE WHEN {_SEL_D} THEN 1 ELSE 0 END) AS BIGINT) AS cd,
             CAST(sum(CASE WHEN ({_SEL_A}) AND ({_SEL_B}) THEN 1 ELSE 0 END)
                  AS BIGINT) AS cab,
             CAST(sum(CASE WHEN ({_SEL_A}) AND ({_SEL_C}) THEN 1 ELSE 0 END)
                  AS BIGINT) AS cac,
             CAST(sum(CASE WHEN ({_SEL_B}) AND ({_SEL_D}) THEN 1 ELSE 0 END)
                  AS BIGINT) AS cbd,
             CAST(sum(CASE WHEN ({_SEL_C}) AND ({_SEL_D}) THEN 1 ELSE 0 END)
                  AS BIGINT) AS ccd
      FROM orders
    )
    {" UNION ALL ".join(
        f'''SELECT '{name}' AS pair, n,
           {c1} AS n_a, {c2} AS n_b, {cj} AS n_actual,
           round(({c1} * 1.0 / n) * ({c2} * 1.0 / n), 9) AS est_sel,
           round({cj} * 1.0 / n, 9) AS actual_sel,
           CASE WHEN {cj} > 0 AND {c1} > 0 AND {c2} > 0 THEN
             round(greatest((({c1} * 1.0 / n) * ({c2} * 1.0 / n))
                              / ({cj} * 1.0 / n),
                            ({cj} * 1.0 / n)
                              / (({c1} * 1.0 / n) * ({c2} * 1.0 / n))), 4)
           END AS q_error
        FROM counts''' for name, c1, c2, cj in _SEL_PAIRS)}
    """,
)
def opt_conjunction_selectivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Independence-assumption selectivity estimates vs actuals for
    four predicate conjunctions, with the q-error."""
    orders = table(spark, sf_dir, "orders")
    a = F.col("o_orderpriority") == "1-URGENT"
    b = F.col("o_orderstatus") == "F"
    c = F.quarter(F.col("o_orderdate").cast("date")) == 1
    d = F.col("o_totalprice") > 100000
    counts = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(a.cast("int")).cast("bigint").alias("ca"),
        F.sum(b.cast("int")).cast("bigint").alias("cb"),
        F.sum(c.cast("int")).cast("bigint").alias("cc"),
        F.sum(d.cast("int")).cast("bigint").alias("cd"),
        F.sum((a & b).cast("int")).cast("bigint").alias("cab"),
        F.sum((a & c).cast("int")).cast("bigint").alias("cac"),
        F.sum((b & d).cast("int")).cast("bigint").alias("cbd"),
        F.sum((c & d).cast("int")).cast("bigint").alias("ccd"),
    )
    branches = []
    for name, c1, c2, cj in _SEL_PAIRS:
        n = F.col("n")
        est = (F.col(c1) * 1.0 / n) * (F.col(c2) * 1.0 / n)
        act = F.col(cj) * 1.0 / n
        branches.append(
            F.struct(
                F.lit(name).alias("pair"),
                F.col("n"),
                F.col(c1).alias("n_a"),
                F.col(c2).alias("n_b"),
                F.col(cj).alias("n_actual"),
                F.round(est, 9).alias("est_sel"),
                F.round(act, 9).alias("actual_sel"),
                F.when(
                    (F.col(cj) > 0) & (F.col(c1) > 0) & (F.col(c2) > 0),
                    F.round(F.greatest(est / act, act / est), 4),
                ).alias("q_error"),
            )
        )
    # Single reference to the one-row count grid: a per-pair union of
    # selects would rescan `orders` once per predicate pair.
    return explode_branches(counts, branches)


# --------------------------------------------------------------------------
# Bloom join-filter simulation — the runtime-filter planning question
# ("would a bloom filter on the build side prune this probe scan?")
# answered EXACTLY: build a deterministic 2^16-bit, 4-hash bloom set
# from the urgent orders' keys (md5 nibble-slice positions, identical
# cross-engine), probe every distinct lineitem orderkey, and report
# true matches, false positives and the realized skip ratio in exact
# ppm. This is the measurement that justifies (or kills) enabling
# spark.sql.optimizer.runtimeFilter.bloomFilter for a given join — the
# sketch math itself is value-checked, same policy as the CMS/HLL
# family.
#
# Scale shape: build side is a distinct + explode(4) over the
# FILTERED keys (small by selection); its position set is broadcast;
# the probe side is one distinct + explode(4) + broadcast semi-count.
# --------------------------------------------------------------------------
BLOOM_BITS = 1 << 16
BLOOM_K = 4


def _bloom_pos_sql(key: str, j: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({key} AS VARCHAR) || '|{j}'), 1, 8))"
        f"::BIGINT % {BLOOM_BITS} AS BIGINT)"
    )


@register(
    "opt_bloom_join_filter_sim",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      {" UNION ".join(
          f"SELECT DISTINCT {_bloom_pos_sql('o_orderkey', j)} AS pos FROM build"
          for j in range(BLOOM_K)
      )}
    ),
    probe AS (SELECT DISTINCT l_orderkey FROM lineitem),
    probe_pos AS (
      {" UNION ALL ".join(
          f"SELECT l_orderkey, {_bloom_pos_sql('l_orderkey', j)} AS pos FROM probe"
          for j in range(BLOOM_K)
      )}
    ),
    ppos_d AS (SELECT DISTINCT l_orderkey, pos FROM probe_pos),
    need AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_need
      FROM ppos_d GROUP BY l_orderkey
    ),
    hits AS (
      SELECT p.l_orderkey, CAST(count(*) AS BIGINT) AS n_set
      FROM ppos_d p JOIN bits b ON b.pos = p.pos
      GROUP BY p.l_orderkey
    ),
    flags AS (
      SELECT pr.l_orderkey,
             CASE WHEN coalesce(h.n_set, 0) = n.n_need
                  THEN 1 ELSE 0 END AS pass,
             CASE WHEN b.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS truth
      FROM probe pr
      JOIN need n ON n.l_orderkey = pr.l_orderkey
      LEFT JOIN hits h ON h.l_orderkey = pr.l_orderkey
      LEFT JOIN build b ON b.o_orderkey = pr.l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(truth) AS BIGINT) AS n_true,
           CAST(sum(pass) AS BIGINT) AS n_pass,
           CAST(sum(pass) - sum(truth) AS BIGINT) AS n_false_pos,
           CAST((CAST(sum(pass) AS BIGINT) - sum(truth)) * 1000000
                // count(*) AS BIGINT) AS fp_ppm,
           CAST((count(*) - CAST(sum(pass) AS BIGINT)) * 1000000
                // count(*) AS BIGINT) AS skip_ppm
    FROM flags
    """,
)
def opt_bloom_join_filter_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact simulation of a {BLOOM_K}-hash / {BLOOM_BITS}-bit bloom
    runtime filter (urgent orders -> lineitem probe): true/false
    positives and realized scan-skip ratio in ppm."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    def pos(key: str, j: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(key).cast("string"), F.lit(f"|{j}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % BLOOM_BITS
        ).cast("bigint")

    build = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .distinct()
        .persist()
    )
    bits = None
    for j in range(BLOOM_K):
        b = build.select(pos("o_orderkey", j).alias("pos"))
        bits = b if bits is None else bits.unionAll(b)
    bits = bits.distinct()
    probe = li.select("l_orderkey").distinct().persist()
    ppos = None
    for j in range(BLOOM_K):
        p = probe.select("l_orderkey", pos("l_orderkey", j).alias("pos"))
        ppos = p if ppos is None else ppos.unionAll(p)
    ppos = ppos.distinct()
    need = ppos.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_need")
    )
    hits = (
        ppos.join(F.broadcast(bits), "pos")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_set"))
    )
    truth = build.select(F.col("o_orderkey").alias("l_orderkey")).withColumn(
        "truth", F.lit(1)
    )
    flags = (
        probe.join(need, "l_orderkey")
        .join(hits, "l_orderkey", "left")
        .join(truth, "l_orderkey", "left")
        .select(
            F.when(
                F.coalesce(F.col("n_set"), F.lit(0)) == F.col("n_need"), 1
            )
            .otherwise(0)
            .alias("pass"),
            F.coalesce(F.col("truth"), F.lit(0)).alias("truth"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probed"),
        F.sum("truth").cast("bigint").alias("n_true"),
        F.sum("pass").cast("bigint").alias("n_pass"),
        (F.sum("pass") - F.sum("truth")).cast("bigint").alias("n_false_pos"),
        F.expr(
            "(CAST(sum(pass) AS BIGINT) - sum(truth)) * CAST(1000000 AS BIGINT)"
            " DIV count(*)"
        ).alias("fp_ppm"),
        F.expr(
            "(count(*) - CAST(sum(pass) AS BIGINT)) * CAST(1000000 AS BIGINT)"
            " DIV count(*)"
        ).alias("skip_ppm"),
    )


# --------------------------------------------------------------------------
# NATIVE runtime bloom-filter join evidence — the optimizer twin of
# opt_bloom_join_filter_sim above. The sim row value-checks the sketch
# MATH; this row proves Spark's own InjectRuntimeFilter actually
# rewrites the plan on the 100 TB shape: a fact-dim equi-join whose dim
# carries a selective filter but is too big to broadcast. Measured on
# this runtime (Spark 4.1): the rule fires ONLY when
#   - the application-side scan clears applicationSideScanSizeThreshold
#     (default 10 GiB — lowered to 0 inside the conf scope), and
#   - the join actually shuffles (broadcast disabled in-scope; with a
#     BHJ the build side already prunes, so a bloom filter is pointless
#     and the rule correctly declines).
# The aggregate is collected EAGERLY while the confs hold (runtime
# filters are injected at optimization time, which happens at the
# action — a lazy return would optimize after the finally restores the
# confs and silently lose the rewrite), then both confs are restored so
# nothing leaks into the shared session. bloom_injected is read off the
# optimized plan (might_contain + bloom_filter_agg) and value-checked
# against the oracle's literal TRUE — if a Spark upgrade stops
# injecting, the driver hash goes red.
# --------------------------------------------------------------------------
_RBJ_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_custs,
       TRUE AS bloom_injected
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
"""


@register("opt_runtime_bloom_join", oracle=_RBJ_ORACLE)
def opt_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILDING-segment order rollup through Spark's native runtime
    bloom filter (InjectRuntimeFilter), plus the plan-derived
    bloom_injected flag. EAGER: the 1-row aggregate runs inside the
    conf scope; both confs are restored before returning."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        joined = orders.join(
            cust, orders.o_custkey == cust.c_custkey
        )
        agg = joined.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("revenue_cents"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_custs"),
        )
        plan = agg.select("*")._jdf.queryExecution().optimizedPlan().toString()
        injected = "might_contain" in plan and "bloom_filter_agg" in plan
        row = agg.collect()[0]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    return local_frame(
        spark,
        [(row["n_orders"], row["revenue_cents"], row["n_custs"], injected)],
        "n_orders bigint, revenue_cents bigint, n_custs bigint, bloom_injected boolean",
    )


# --------------------------------------------------------------------------
# Approximate query processing: Bernoulli-sampled aggregate with a
# Horvitz-Thompson estimate and a normal-approximation CI, next to the
# exact answer it approximates (BlinkDB-style error-bounded sampling).
# The 100 TB story: a 1/16 md5-keyed sample answers the rollup reading
# 1/16th of the fact bytes; the CI tells the analyst whether that is
# good enough BEFORE paying for the full scan. Everything is
# deterministic — membership is a pure md5 function of the key, the
# estimate is exact integer arithmetic (est = 16 * sampled cents), and
# the variance term sums x^2 in DECIMAL/HUGEINT (never a float
# accumulation, so both engines agree bit-for-bit); the only float ops
# are one final sqrt/multiply per stratum on identical inputs.
#   Var(T_hat) = (1-p)/p^2 * sum_{i in S} x_i^2   (Bernoulli HT)
# --------------------------------------------------------------------------
AQP_P_INV = 16  # 1/p: one md5 nibble


_AQP_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || '|aqp'), 1, 1)
                   = '0' THEN 1 ELSE 0 END AS s
  FROM orders
),
agg AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(s) AS BIGINT) AS n_sampled,
         CAST(sum(cents) AS BIGINT) AS exact_cents,
         CAST({AQP_P_INV} * sum(CASE WHEN s = 1 THEN cents ELSE 0 END)
              AS BIGINT) AS est_cents,
         CAST(sum(CASE WHEN s = 1 THEN CAST(cents AS HUGEINT) * cents
                       ELSE 0 END) AS DOUBLE) AS ssq
  FROM base GROUP BY 1
),
ci AS (
  SELECT *,
         1.96 * sqrt(({AQP_P_INV} - 1.0) * {AQP_P_INV} * ssq) AS half
  FROM agg
)
SELECT o_orderpriority, n_total, n_sampled, exact_cents, est_cents,
       round((est_cents - exact_cents) / CAST(exact_cents AS DOUBLE), 6)
           AS rel_err,
       CAST(floor(est_cents - half + 0.5) AS BIGINT) AS ci_lo_cents,
       CAST(floor(est_cents + half + 0.5) AS BIGINT) AS ci_hi_cents,
       (exact_cents >= est_cents - half AND exact_cents <= est_cents + half)
           AS covered
FROM ci
"""


@register("opt_sample_agg_ci", oracle=_AQP_ORACLE)
def opt_sample_agg_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue: exact vs 1/16-sample Horvitz-Thompson
    estimate with a 95% normal CI and its realized coverage."""
    orders = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    s = (
        F.substring(
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit("|aqp"))),
            1,
            1,
        )
        == "0"
    ).cast("int")
    base = orders.select("o_orderpriority", cents.alias("cents"), s.alias("s"))
    agg = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("s").cast("bigint").alias("n_sampled"),
        F.sum("cents").cast("bigint").alias("exact_cents"),
        (
            F.lit(AQP_P_INV)
            * F.sum(F.when(F.col("s") == 1, F.col("cents")).otherwise(F.lit(0)))
        )
        .cast("bigint")
        .alias("est_cents"),
        F.sum(
            F.when(
                F.col("s") == 1,
                F.col("cents").cast("decimal(38,0)") * F.col("cents"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("double")
        .alias("ssq"),
    )
    half = F.lit(1.96) * F.sqrt(
        F.lit(float(AQP_P_INV - 1)) * F.lit(float(AQP_P_INV)) * F.col("ssq")
    )
    est_d = F.col("est_cents").cast("double")
    return agg.select(
        "o_orderpriority",
        "n_total",
        "n_sampled",
        "exact_cents",
        "est_cents",
        F.round(
            (est_d - F.col("exact_cents")) / F.col("exact_cents").cast("double"),
            6,
        ).alias("rel_err"),
        F.floor(est_d - half + F.lit(0.5)).cast("bigint").alias("ci_lo_cents"),
        F.floor(est_d + half + F.lit(0.5)).cast("bigint").alias("ci_hi_cents"),
        (
            (F.col("exact_cents") >= est_d - half)
            & (F.col("exact_cents") <= est_d + half)
        ).alias("covered"),
    )
