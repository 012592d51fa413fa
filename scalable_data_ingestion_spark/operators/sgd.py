"""In-engine model training: full-batch logistic regression GD as
unrolled declarative rounds.

The quality-classifier half of a curation pipeline (fastText-style
filters, Gopher-style learned scorers) needs TRAINING, not just
scoring, to run on the cluster. Full-batch gradient descent over a
DataFrame is embarrassingly parallel — each round is one
map-side-combining aggregate of per-row gradients — and becomes
bit-deterministic cross-engine with the same fixed-point policy the
LM scorers use: each row's gradient contribution quantizes to 1e-6
fixed point BEFORE summation, so the sums are exact BIGINTs under any
shuffle order, and the weight trajectory is a pure function of the
data. Learning rate 1/8 (dyadic, exact in binary).

Scale shape: round r = one pass over the fact (crossJoin with the
broadcast 1-row weight relation, sigmoid + quantize map-side, one
aggregate). ROUNDS unrolled rounds = a linear chain of such passes —
the LPA/BPE fixed-point unrolling policy. No driver loop touches row
data; the driver only builds the lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..session import local_frame

GD_ROUNDS = 5
GD_LR = 0.125  # dyadic
GD_FX = 1_000_000  # gradient fixed-point scale
X_SCALE = 100_000.0  # o_totalprice / X_SCALE keeps z in a sane range

_FEATS_SQL = f"""
  SELECT o_totalprice / {X_SCALE} AS x,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1.0 ELSE 0.0 END AS y
  FROM orders
"""


def _gd_round_sql(i: int) -> str:
    return f"""g{i} AS (
      SELECT
        CAST(sum(CAST(floor((1.0 / (1.0 + exp(-(w0 + w1 * x))) - y)
                            * {GD_FX} + 0.5) AS BIGINT)) AS BIGINT) AS s0,
        CAST(sum(CAST(floor((1.0 / (1.0 + exp(-(w0 + w1 * x))) - y) * x
                            * {GD_FX} + 0.5) AS BIGINT)) AS BIGINT) AS s1,
        CAST(count(*) AS BIGINT) AS n
      FROM feats CROSS JOIN w{i - 1}
    ),
    w{i} AS (
      SELECT w0 - {GD_LR} * (s0 / ({GD_FX}.0 * n)) AS w0,
             w1 - {GD_LR} * (s1 / ({GD_FX}.0 * n)) AS w1
      FROM g{i} CROSS JOIN w{i - 1}
    )"""


_GD_ORACLE = f"""
WITH feats AS ({_FEATS_SQL}),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1),
{",".join(_gd_round_sql(i) for i in range(1, GD_ROUNDS + 1))}
{" UNION ALL ".join(
    f"SELECT {i} AS round, round(w0, 9) AS w0, round(w1, 9) AS w1 FROM w{i}"
    for i in range(1, GD_ROUNDS + 1)
)}
"""


@register("ml_logreg_gd_path", oracle=_GD_ORACLE)
def ml_logreg_gd_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight trajectory of {GD_ROUNDS} full-batch logistic-regression
    GD rounds predicting high order priority from scaled order value
    (intercept + one feature), with exact fixed-point gradient sums."""
    orders = table(spark, sf_dir, "orders")
    feats = orders.select(
        (F.col("o_totalprice") / X_SCALE).alias("x"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0
        )
        .otherwise(0.0)
        .alias("y"),
    ).persist()
    w = spark.range(1).select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1")
    )
    snapshots = []
    for i in range(1, GD_ROUNDS + 1):
        joined = feats.crossJoin(F.broadcast(w))
        resid = 1.0 / (1.0 + F.exp(-(F.col("w0") + F.col("w1") * F.col("x")))) - F.col("y")
        g = joined.agg(
            F.sum(F.floor(resid * GD_FX + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("s0"),
            F.sum(F.floor(resid * F.col("x") * GD_FX + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("s1"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        # w appears twice per round (gradient join AND update) — persist
        # the 1-row frame so the chain evaluates linearly, not 2^rounds.
        w = g.crossJoin(F.broadcast(w)).select(
            (F.col("w0") - GD_LR * (F.col("s0") / (float(GD_FX) * F.col("n"))))
            .alias("w0"),
            (F.col("w1") - GD_LR * (F.col("s1") / (float(GD_FX) * F.col("n"))))
            .alias("w1"),
        ).persist()
        snapshots.append(
            w.select(
                F.lit(i).alias("round"),
                F.round("w0", 9).alias("w0"),
                F.round("w1", 9).alias("w1"),
            )
        )
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionByName(s)
    return out


# --------------------------------------------------------------------------
# Learning curve — the scaling-law measurement loop: train the same
# model on nested md5-hash fractions of the data (25% ⊂ 50% ⊂ 100%)
# and report the weight trajectory endpoint per fraction. Nested
# subsets (bucket < 4 ⊂ bucket < 8 ⊂ bucket < 16) mean each point
# adds data rather than resampling it — the curve is monotone in
# information, which is what a data-value analysis needs. Same
# fixed-point gradient policy as ml_logreg_gd_path, fewer rounds per
# point.
# --------------------------------------------------------------------------
LC_ROUNDS = 3
LC_FRACTIONS = ((4, 25), (8, 50), (16, 100))  # (bucket bound, pct label)

_LC_BUCKET_SQL = "CASE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) " + " ".join(
    f"WHEN '{h}' THEN {i}" for i, h in enumerate("0123456789abcdef")
) + " END"


def _lc_chain_sql(tag: str, bound: int) -> str:
    rounds = []
    for i in range(1, LC_ROUNDS + 1):
        rounds.append(f"""g{tag}_{i} AS (
      SELECT
        CAST(sum(CAST(floor((1.0 / (1.0 + exp(-(w0 + w1 * x))) - y)
                            * {GD_FX} + 0.5) AS BIGINT)) AS BIGINT) AS s0,
        CAST(sum(CAST(floor((1.0 / (1.0 + exp(-(w0 + w1 * x))) - y) * x
                            * {GD_FX} + 0.5) AS BIGINT)) AS BIGINT) AS s1,
        CAST(count(*) AS BIGINT) AS n
      FROM feats_{tag} CROSS JOIN w{tag}_{i - 1}
    ),
    w{tag}_{i} AS (
      SELECT w0 - {GD_LR} * (s0 / ({GD_FX}.0 * n)) AS w0,
             w1 - {GD_LR} * (s1 / ({GD_FX}.0 * n)) AS w1
      FROM g{tag}_{i} CROSS JOIN w{tag}_{i - 1}
    )""")
    return f"""feats_{tag} AS (
      SELECT x, y FROM feats WHERE bucket < {bound}
    ),
    w{tag}_0 AS (SELECT 0.0 AS w0, 0.0 AS w1),
    {",".join(rounds)}"""


_LC_ORACLE = f"""
WITH feats AS (
  SELECT o_totalprice / {X_SCALE} AS x,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1.0 ELSE 0.0 END AS y,
         {_LC_BUCKET_SQL} AS bucket
  FROM orders
),
{",".join(_lc_chain_sql(f"f{b}", b) for b, _ in LC_FRACTIONS)}
{" UNION ALL ".join(
    f"SELECT {pct} AS fraction_pct, "
    f"(SELECT CAST(count(*) AS BIGINT) FROM feats_f{b}) AS n_rows, "
    f"round(w0, 9) AS w0, round(w1, 9) AS w1 FROM wf{b}_{LC_ROUNDS}"
    for b, pct in LC_FRACTIONS
)}
"""


@register("ml_logreg_learning_curve", oracle=_LC_ORACLE)
def ml_logreg_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final GD weights after {LC_ROUNDS} rounds on nested 25/50/100%
    md5-hash fractions of the orders fact — the learning-curve /
    data-value readout."""
    orders = table(spark, sf_dir, "orders")
    bucket = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1), 16, 10
    ).cast("int")
    feats_all = orders.select(
        (F.col("o_totalprice") / X_SCALE).alias("x"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0
        )
        .otherwise(0.0)
        .alias("y"),
        bucket.alias("bucket"),
    ).persist()
    points = []
    for bound, pct in LC_FRACTIONS:
        feats = feats_all.filter(F.col("bucket") < bound)
        w = spark.range(1).select(
            F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1")
        )
        for _ in range(LC_ROUNDS):
            joined = feats.crossJoin(F.broadcast(w))
            resid = (
                1.0
                / (1.0 + F.exp(-(F.col("w0") + F.col("w1") * F.col("x"))))
                - F.col("y")
            )
            g = joined.agg(
                F.sum(F.floor(resid * GD_FX + F.lit(0.5)).cast("bigint"))
                .cast("bigint")
                .alias("s0"),
                F.sum(
                    F.floor(resid * F.col("x") * GD_FX + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("s1"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
            w = g.crossJoin(F.broadcast(w)).select(
                (
                    F.col("w0")
                    - GD_LR * (F.col("s0") / (float(GD_FX) * F.col("n")))
                ).alias("w0"),
                (
                    F.col("w1")
                    - GD_LR * (F.col("s1") / (float(GD_FX) * F.col("n")))
                ).alias("w1"),
            ).persist()
        n_rows = feats.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        points.append(
            w.crossJoin(F.broadcast(n_rows)).select(
                F.lit(pct).alias("fraction_pct"),
                "n_rows",
                F.round("w0", 9).alias("w0"),
                F.round("w1", 9).alias("w1"),
            )
        )
    out = points[0]
    for p_df in points[1:]:
        out = out.unionByName(p_df)
    return out


# --------------------------------------------------------------------------
# Decile lift table — the standard "is the model worth deploying"
# readout: score every row with the trained model, cut the population
# into score deciles, and compare each decile's positive rate against
# the base rate. Deciles come from global_ntile (range-partitioned —
# no single-reducer ntile over the fact). Cross-engine determinism:
# scores are pure functions of identical (w, x) doubles, and adjacent
# x values differ by >= 1e-7 of scaled price while engine exp()
# disagreement is <= 1 ulp, so the score order — and hence decile
# membership under the (score, o_orderkey) total order — is identical.
# --------------------------------------------------------------------------
def _lift_round_sql(i: int) -> str:
    return _gd_round_sql(i).replace("FROM feats ", "FROM feats_lift ")


_LIFT_ORACLE = f"""
WITH feats_lift AS (
  SELECT o_orderkey, o_totalprice / {X_SCALE} AS x,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1.0 ELSE 0.0 END AS y
  FROM orders
),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1),
{",".join(_lift_round_sql(i) for i in range(1, LC_ROUNDS + 1))},
scored AS (
  SELECT o_orderkey, y,
         1.0 / (1.0 + exp(-(w0 + w1 * x))) AS score
  FROM feats_lift CROSS JOIN w{LC_ROUNDS}
),
tiled AS (
  SELECT y, ntile(10) OVER (ORDER BY score DESC, o_orderkey) AS decile
  FROM scored
),
base AS (SELECT avg(y) AS base_rate FROM tiled)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       round(avg(y), 6) AS pos_rate,
       round(avg(y) / (SELECT base_rate FROM base), 6) AS lift
FROM tiled
GROUP BY decile
"""


@register("eval_decile_lift", oracle=_LIFT_ORACLE)
def eval_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table of the {LC_ROUNDS}-round GD model: positive
    rate and lift-vs-base per score decile."""
    from ..functions.ranking import global_ntile

    orders = table(spark, sf_dir, "orders")
    feats = orders.select(
        "o_orderkey",
        (F.col("o_totalprice") / X_SCALE).alias("x"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0
        )
        .otherwise(0.0)
        .alias("y"),
    ).persist()
    w = spark.range(1).select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1")
    )
    for _ in range(LC_ROUNDS):
        joined = feats.crossJoin(F.broadcast(w))
        resid = (
            1.0
            / (1.0 + F.exp(-(F.col("w0") + F.col("w1") * F.col("x"))))
            - F.col("y")
        )
        g = joined.agg(
            F.sum(F.floor(resid * GD_FX + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("s0"),
            F.sum(
                F.floor(resid * F.col("x") * GD_FX + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("s1"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        w = g.crossJoin(F.broadcast(w)).select(
            (
                F.col("w0")
                - GD_LR * (F.col("s0") / (float(GD_FX) * F.col("n")))
            ).alias("w0"),
            (
                F.col("w1")
                - GD_LR * (F.col("s1") / (float(GD_FX) * F.col("n")))
            ).alias("w1"),
        ).persist()
    scored = feats.crossJoin(F.broadcast(w)).select(
        "o_orderkey",
        "y",
        (1.0 / (1.0 + F.exp(-(F.col("w0") + F.col("w1") * F.col("x"))))).alias(
            "score"
        ),
    )
    tiled = global_ntile(
        scored, [F.col("score").desc(), F.col("o_orderkey")], 10, "decile"
    )
    base = tiled.agg(F.avg("y").alias("base_rate"))
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("y").cast("bigint")).cast("bigint").alias("n_pos"),
            F.avg("y").alias("_pos_rate"),
        )
        .crossJoin(F.broadcast(base))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_rows",
            "n_pos",
            F.round("_pos_rate", 6).alias("pos_rate"),
            F.round(F.col("_pos_rate") / F.col("base_rate"), 6).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Split-conformal prediction coverage — the distribution-free
# uncertainty eval: fit a point predictor on a train split, take the
# ceil((1-alpha)(n+1))-th smallest absolute calibration residual as
# the interval half-width q, and report what fraction of held-out
# test rows actually fall inside pred ± q (finite-sample guarantee:
# >= 1 - alpha in expectation). Predictor here is the (segment,
# priority) floor-mean of order value in cents — deliberately simple,
# the eval measures the CONFORMAL machinery, not the model.
#
# Exactness: money quantizes to BIGINT cents before any aggregation;
# the predictor is integer floor division (Spark DIV == DuckDB // on
# non-negatives); k is pure integer arithmetic (no 0.9*(n+1) float);
# q is a rank statistic of integer residuals found with the
# range-partitioned global_rank helper (no single-reducer sort, no
# unpartitioned window). Coverage is an integer ratio rounded once.
#
# Scale: the md5 split is map-side; the predictor is a
# dimension-sized groupBy broadcast back; the rank pass is the
# documented global_rank shape; test scoring is map-only.
# --------------------------------------------------------------------------
CONF_ALPHA_NUM = 1  # alpha = 1/10 -> target coverage 0.9
CONF_ALPHA_DEN = 10

_CONF_BUCKET = (
    "CASE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) "
    + " ".join(f"WHEN '{h}' THEN {i}" for i, h in enumerate("0123456789abcdef"))
    + " END"
)


@register(
    "eval_conformal_coverage",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, c_mktsegment, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             {_CONF_BUCKET} AS bucket
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    pred AS (
      SELECT c_mktsegment, o_orderpriority,
             CAST(sum(cents) // count(*) AS BIGINT) AS pred_cents
      FROM base WHERE bucket < 8 GROUP BY 1, 2
    ),
    cal AS (
      SELECT abs(b.cents - p.pred_cents) AS r
      FROM base b JOIN pred p USING (c_mktsegment, o_orderpriority)
      WHERE b.bucket BETWEEN 8 AND 11
    ),
    ncal AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
    kth AS (
      SELECT (({CONF_ALPHA_DEN} - {CONF_ALPHA_NUM}) * (n_cal + 1)
              + {CONF_ALPHA_DEN} - 1) // {CONF_ALPHA_DEN} AS k
      FROM ncal
    ),
    q AS (
      SELECT CAST(r AS BIGINT) AS q_cents
      FROM (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal)
      CROSS JOIN kth WHERE rn = k
    )
    SELECT b.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN abs(b.cents - p.pred_cents) <= q.q_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           round(sum(CASE WHEN abs(b.cents - p.pred_cents) <= q.q_cents
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS coverage,
           CAST(max(q.q_cents) AS BIGINT) AS q_cents,
           CAST(max(n.n_cal) AS BIGINT) AS n_cal
    FROM base b
    JOIN pred p USING (c_mktsegment, o_orderpriority)
    CROSS JOIN q CROSS JOIN ncal n
    WHERE b.bucket >= 12
    GROUP BY 1
    """,
)
def eval_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment empirical coverage of split-conformal intervals
    around a (segment, priority) floor-mean predictor of order value
    (target coverage 1 - {CONF_ALPHA_NUM}/{CONF_ALPHA_DEN})."""
    from ..functions.ranking import global_rank

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    bucket = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1), 16, 10
    ).cast("int")
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey",
            "c_mktsegment",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            bucket.alias("bucket"),
        )
        .persist()
    )
    pred = (
        base.filter(F.col("bucket") < 8)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.expr("sum(cents) DIV count(*)").cast("bigint").alias("pred_cents")
        )
    )
    cal = (
        base.filter(F.col("bucket").between(8, 11))
        .join(F.broadcast(pred), ["c_mktsegment", "o_orderpriority"])
        .select(
            F.abs(F.col("cents") - F.col("pred_cents")).alias("r"),
            "o_orderkey",
        )
    )
    ncal = cal.agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    kth = ncal.select(
        "n_cal",
        F.expr(
            f"(({CONF_ALPHA_DEN} - {CONF_ALPHA_NUM}) * (n_cal + 1)"
            f" + {CONF_ALPHA_DEN} - 1) DIV {CONF_ALPHA_DEN}"
        ).alias("k"),
    )
    ranked = global_rank(cal, [F.col("r"), F.col("o_orderkey")], rank_col="rn")
    q = (
        ranked.crossJoin(F.broadcast(kth))
        .filter(F.col("rn") == F.col("k"))
        .select(F.col("r").cast("bigint").alias("q_cents"), "n_cal")
    )
    test = (
        base.filter(F.col("bucket") >= 12)
        .join(F.broadcast(pred), ["c_mktsegment", "o_orderpriority"])
        .crossJoin(F.broadcast(q))
    )
    covered = (F.abs(F.col("cents") - F.col("pred_cents")) <= F.col("q_cents")).cast(
        "bigint"
    )
    return test.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(covered).cast("bigint").alias("n_covered"),
        F.round(F.sum(covered) * 1.0 / F.count(F.lit(1)), 6).alias("coverage"),
        F.max("q_cents").cast("bigint").alias("q_cents"),
        F.max("n_cal").cast("bigint").alias("n_cal"),
    )


# --------------------------------------------------------------------------
# Closed-form ridge regression path — the L2-regularized linear model
# (revenue ~ quantity + discount) solved EXACTLY from one pass of
# sufficient statistics, at four per-sample regularization strengths.
# This is how a 100 TB deployment fits small linear models: the only
# fact-sized work is ONE map-side-combining aggregate of the Gram /
# moment sums; the (2+1)-parameter normal-equation solve per lambda is
# a fixed scalar expression of those sums (no iteration, no driver
# loop, no per-lambda data pass — the whole path costs one scan).
#
# Exactness: y quantizes to the 4dp revenue grid (extendedprice *
# (1-discount) is exact there), features are integer quantity and
# integer discount bps; every moment sum is exact (BIGINT, or
# decimal(38)/HUGEINT for the y-weighted quadratics with ONE
# deterministic rounding to double at aggregate output); the solve and
# R^2 are fixed double expressions. Lambda scales with n (per-sample
# penalty), so the statistic is SF-consistent.
# --------------------------------------------------------------------------
RIDGE_Y_FX = 10_000  # 4dp revenue grid
RIDGE_LAMBDAS = (0.0, 0.01, 1.0, 100.0)  # per-sample L2 strengths


@register(
    "ml_ridge_path",
    oracle=f"""
    WITH feats AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 10000) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * (1 - l_discount) * {RIDGE_Y_FX})
                  AS BIGINT) AS y
      FROM lineitem
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS s1,
             CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * x1) AS BIGINT) AS s11,
             CAST(sum(x1 * x2) AS BIGINT) AS s12,
             CAST(sum(x2 * x2) AS BIGINT) AS s22,
             CAST(sum(CAST(x1 AS HUGEINT) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(x2 AS HUGEINT) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM feats
    ),
    centered AS (
      SELECT n,
             s11 - (s1 * 1.0 / n) * s1 AS c11,
             s12 - (s1 * 1.0 / n) * s2 AS c12,
             s22 - (s2 * 1.0 / n) * s2 AS c22,
             s1y - (s1 * 1.0 / n) * sy AS c1y,
             s2y - (s2 * 1.0 / n) * sy AS c2y,
             syy - (sy * 1.0 / n) * sy AS cyy,
             s1 * 1.0 / n AS m1, s2 * 1.0 / n AS m2, sy * 1.0 / n AS my
      FROM sums
    ),
    lambdas(lam) AS (VALUES {", ".join(f"({v})" for v in RIDGE_LAMBDAS)}),
    solved AS (
      SELECT lam, n, c1y, c2y, cyy, c11, c12, c22, m1, m2, my,
             ((c22 + lam * n) * c1y - c12 * c2y)
               / ((c11 + lam * n) * (c22 + lam * n) - c12 * c12) AS b1,
             ((c11 + lam * n) * c2y - c12 * c1y)
               / ((c11 + lam * n) * (c22 + lam * n) - c12 * c12) AS b2
      FROM centered CROSS JOIN lambdas
    )
    SELECT lam AS lambda_per_sample,
           n AS n_rows,
           round(b1 / {RIDGE_Y_FX}, 6) AS beta_qty_usd,
           round(b2 / {RIDGE_Y_FX}, 6) AS beta_disc_bp_usd,
           round((my - b1 * m1 - b2 * m2) / {RIDGE_Y_FX}, 6) AS intercept_usd,
           round(1.0 - (cyy - 2 * (b1 * c1y + b2 * c2y)
                        + b1 * b1 * c11 + 2 * b1 * b2 * c12
                        + b2 * b2 * c22) / cyy, 6) AS r2
    FROM solved
    ORDER BY lam
    """,
)
def ml_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge path (lambda in {RIDGE_LAMBDAS} per sample)
    for revenue ~ quantity + discount, from one moment-sum pass."""
    li = table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("x2"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * RIDGE_Y_FX
        )
        .cast("bigint")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(dec("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(dec("x2") * F.col("y")).cast("double").alias("s2y"),
        F.sum(dec("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    centered = sums.select(
        "n",
        (F.col("s11") - (F.col("s1") * 1.0 / n) * F.col("s1")).alias("c11"),
        (F.col("s12") - (F.col("s1") * 1.0 / n) * F.col("s2")).alias("c12"),
        (F.col("s22") - (F.col("s2") * 1.0 / n) * F.col("s2")).alias("c22"),
        (F.col("s1y") - (F.col("s1") * 1.0 / n) * F.col("sy")).alias("c1y"),
        (F.col("s2y") - (F.col("s2") * 1.0 / n) * F.col("sy")).alias("c2y"),
        (F.col("syy") - (F.col("sy") * 1.0 / n) * F.col("sy")).alias("cyy"),
        (F.col("s1") * 1.0 / n).alias("m1"),
        (F.col("s2") * 1.0 / n).alias("m2"),
        (F.col("sy") * 1.0 / n).alias("my"),
    )
    lambdas = local_frame(spark, [(v,) for v in RIDGE_LAMBDAS], "lam double")
    det = (F.col("c11") + F.col("lam") * F.col("n")) * (
        F.col("c22") + F.col("lam") * F.col("n")
    ) - F.col("c12") * F.col("c12")
    b1 = (
        (F.col("c22") + F.col("lam") * F.col("n")) * F.col("c1y")
        - F.col("c12") * F.col("c2y")
    ) / det
    b2 = (
        (F.col("c11") + F.col("lam") * F.col("n")) * F.col("c2y")
        - F.col("c12") * F.col("c1y")
    ) / det
    solved = centered.crossJoin(F.broadcast(lambdas)).select(
        "lam", "n", "c1y", "c2y", "cyy", "c11", "c12", "c22",
        "m1", "m2", "my", b1.alias("b1"), b2.alias("b2"),
    )
    sse = (
        F.col("cyy")
        - 2 * (F.col("b1") * F.col("c1y") + F.col("b2") * F.col("c2y"))
        + F.col("b1") * F.col("b1") * F.col("c11")
        + 2 * F.col("b1") * F.col("b2") * F.col("c12")
        + F.col("b2") * F.col("b2") * F.col("c22")
    )
    return solved.select(
        F.col("lam").alias("lambda_per_sample"),
        F.col("n").alias("n_rows"),
        F.round(F.col("b1") / RIDGE_Y_FX, 6).alias("beta_qty_usd"),
        F.round(F.col("b2") / RIDGE_Y_FX, 6).alias("beta_disc_bp_usd"),
        F.round(
            (F.col("my") - F.col("b1") * F.col("m1") - F.col("b2") * F.col("m2"))
            / RIDGE_Y_FX,
            6,
        ).alias("intercept_usd"),
        F.round(1.0 - sse / F.col("cyy"), 6).alias("r2"),
    ).orderBy("lambda_per_sample")


# --------------------------------------------------------------------------
# Bernoulli naive Bayes on the urgent-order label (features: market
# segment x order quarter), trained on the md5-even half and scored
# on the md5-odd half — the in-engine classifier-eval harness shape:
# TRAINING is pure counting (exact BIGINT conditional counts with
# Laplace +1), and SCORING avoids log-space entirely by comparing the
# two class posteriors as cross-multiplied products (one fixed-order
# double product per row — IEEE multiplication is correctly rounded,
# so both engines compute the identical value; no libm call at all).
#
# Scale shape: train = one fact-sized conditional-count groupBy per
# feature (5-row and 4-row outputs); test scoring = two BROADCAST
# joins against those count tables + one confusion-matrix aggregate.
# Nothing shuffles except the two tiny count rollups.
# --------------------------------------------------------------------------
def _nb_split_sql(expr: str) -> str:
    return "CASE substr(md5(CAST(" + expr + " AS VARCHAR)), 1, 1) " + " ".join(
        f"WHEN '{h}' THEN {i}" for i, h in enumerate("0123456789abcdef")
    ) + " END"


@register(
    "ml_naive_bayes_urgent",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment AS seg, quarter(CAST(o_orderdate AS DATE)) AS q,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u,
             ({_nb_split_sql("o_orderkey")}) % 2 AS fold
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    train AS (SELECT * FROM base WHERE fold = 0),
    test AS (SELECT * FROM base WHERE fold = 1),
    tot AS (
      SELECT CAST(sum(u) AS BIGINT) AS n1,
             CAST(sum(1 - u) AS BIGINT) AS n0
      FROM train
    ),
    seg_c AS (
      SELECT seg, CAST(sum(u) AS BIGINT) AS c1s,
             CAST(sum(1 - u) AS BIGINT) AS c0s
      FROM train GROUP BY seg
    ),
    q_c AS (
      SELECT q, CAST(sum(u) AS BIGINT) AS c1q,
             CAST(sum(1 - u) AS BIGINT) AS c0q
      FROM train GROUP BY q
    ),
    scored AS (
      SELECT t.u,
             CASE WHEN
               CAST(n1 AS DOUBLE) * (c1s + 1) * (c1q + 1)
                 * (n0 + 5) * (n0 + 4)
               > CAST(n0 AS DOUBLE) * (c0s + 1) * (c0q + 1)
                 * (n1 + 5) * (n1 + 4)
             THEN 1 ELSE 0 END AS pred
      FROM test t
      JOIN seg_c ON t.seg = seg_c.seg
      JOIN q_c ON t.q = q_c.q
      CROSS JOIN tot
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(u * pred) AS BIGINT) AS tp,
           CAST(sum((1 - u) * pred) AS BIGINT) AS fp,
           CAST(sum(u * (1 - pred)) AS BIGINT) AS fn,
           CAST(sum((1 - u) * (1 - pred)) AS BIGINT) AS tn,
           round((sum(u * pred) + sum((1 - u) * (1 - pred))) * 1.0
                 / count(*), 6) AS accuracy,
           round(sum(u * pred) * 1.0
                 / nullif(sum(u * pred) + sum((1 - u) * pred), 0), 6)
               AS precision_1,
           round(sum(u * pred) * 1.0 / nullif(sum(u), 0), 6) AS recall_1
    FROM scored
    """,
)
def ml_naive_bayes_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli naive Bayes (segment x quarter -> urgent) trained on
    the md5-even fold, confusion-matrix scored on the md5-odd fold."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1), 16, 10
        ).cast("int")
        % 2
    )
    base = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.quarter(F.col("o_orderdate").cast("date")).alias("q"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("u"),
        fold.alias("fold"),
    ).persist()
    # base feeds three training aggregates and the test scoring pass —
    # persist so the orders-customer join runs once.
    train = base.filter(F.col("fold") == 0)
    test = base.filter(F.col("fold") == 1)
    tot = train.agg(
        F.sum("u").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("u")).cast("bigint").alias("n0"),
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
    )
    seg_c = train.groupBy("seg").agg(
        F.sum("u").cast("bigint").alias("c1s"),
        F.sum(F.lit(1) - F.col("u")).cast("bigint").alias("c0s"),
    )
    q_c = train.groupBy("q").agg(
        F.sum("u").cast("bigint").alias("c1q"),
        F.sum(F.lit(1) - F.col("u")).cast("bigint").alias("c0q"),
    )
    l1 = (
        F.col("n1").cast("double")
        * (F.col("c1s") + 1)
        * (F.col("c1q") + 1)
        * (F.col("n0") + 5)
        * (F.col("n0") + 4)
    )
    l0 = (
        F.col("n0").cast("double")
        * (F.col("c0s") + 1)
        * (F.col("c0q") + 1)
        * (F.col("n1") + 5)
        * (F.col("n1") + 4)
    )
    scored = (
        test.join(F.broadcast(seg_c), "seg")
        .join(F.broadcast(q_c), "q")
        .crossJoin(F.broadcast(tot))
        .select("u", "n_train", F.when(l1 > l0, 1).otherwise(0).alias("pred"))
    )
    tp = F.sum(F.col("u") * F.col("pred"))
    fp = F.sum((F.lit(1) - F.col("u")) * F.col("pred"))
    fn = F.sum(F.col("u") * (F.lit(1) - F.col("pred")))
    tn = F.sum((F.lit(1) - F.col("u")) * (F.lit(1) - F.col("pred")))
    return scored.groupBy("n_train").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        F.round((tp + tn) * 1.0 / F.count(F.lit(1)), 6).alias("accuracy"),
        F.round(tp * 1.0 / F.nullif(tp + fp, F.lit(0)), 6).alias("precision_1"),
        F.round(tp * 1.0 / F.nullif(F.sum("u"), F.lit(0)), 6).alias("recall_1"),
    ).select(
        "n_train", "n_test", "tp", "fp", "fn", "tn",
        "accuracy", "precision_1", "recall_1",
    )


# --------------------------------------------------------------------------
# Histogram-based decision-stump split scan — the primitive every
# distributed GBDT engine (XGBoost/LightGBM "hist" mode) runs per
# tree node: collapse the fact to the feature's VALUE GRAIN with
# per-class counts, prefix-sum the histogram, and score every split
# threshold from the cumulative counts alone. One fact-sized groupBy
# + a 50-row triangular rollup evaluates ALL thresholds — the reason
# hist-mode training scales is exactly this shape, and the whole scan
# is integer-exact (Gini impurity is rational in the counts; no logs).
#
# Output: every candidate threshold with its left/right class counts
# and weighted-Gini gain (parent Gini minus split impurity), so the
# argmax AND the full gain curve are visible.
# --------------------------------------------------------------------------
@register(
    "ml_stump_split_scan",
    oracle="""
    WITH hist AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
                  AS BIGINT) AS c0
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS t1,
             CAST(sum(c0) AS BIGINT) AS t0
      FROM hist
    ),
    cum AS (
      SELECT h.v AS threshold,
             CAST(sum(h2.c1) AS BIGINT) AS l1,
             CAST(sum(h2.c0) AS BIGINT) AS l0
      FROM hist h JOIN hist h2 ON h2.v <= h.v
      GROUP BY h.v
    ),
    scored AS (
      SELECT threshold, l1, l0, t1 - l1 AS r1, t0 - l0 AS r0,
             t1, t0, l1 + l0 AS nl, (t1 - l1) + (t0 - l0) AS nr,
             t1 + t0 AS n
      FROM cum, tot
    )
    SELECT threshold, l1, l0, r1, r0,
           round(CASE WHEN nl > 0 AND nr > 0 THEN
             (1.0 - (t1 * 1.0 / n) * (t1 * 1.0 / n)
                  - (t0 * 1.0 / n) * (t0 * 1.0 / n))
             - ((nl * 1.0 / n)
                * (1.0 - (l1 * 1.0 / nl) * (l1 * 1.0 / nl)
                       - (l0 * 1.0 / nl) * (l0 * 1.0 / nl))
                + (nr * 1.0 / n)
                  * (1.0 - (r1 * 1.0 / nr) * (r1 * 1.0 / nr)
                         - (r0 * 1.0 / nr) * (r0 * 1.0 / nr)))
           ELSE 0.0 END, 9) AS gini_gain
    FROM scored
    ORDER BY threshold
    """,
)
def ml_stump_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini gain for every quantity split threshold on the
    returned-flag label — the hist-mode GBDT node-split primitive."""
    li = table(spark, sf_dir, "lineitem")
    hist = li.groupBy(F.col("l_quantity").cast("bigint").alias("v")).agg(
        F.sum((F.col("l_returnflag") == "R").cast("int"))
        .cast("bigint")
        .alias("c1"),
        F.sum((F.col("l_returnflag") != "R").cast("int"))
        .cast("bigint")
        .alias("c0"),
    ).persist()
    tot = hist.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c0").cast("bigint").alias("t0"),
    )
    h, h2 = hist.alias("h"), hist.alias("h2")
    cum = (
        h.join(F.broadcast(h2), F.col("h2.v") <= F.col("h.v"))
        .groupBy(F.col("h.v").alias("threshold"))
        .agg(
            F.sum("h2.c1").cast("bigint").alias("l1"),
            F.sum("h2.c0").cast("bigint").alias("l0"),
        )
    )
    s = cum.crossJoin(F.broadcast(tot)).select(
        "threshold", "l1", "l0",
        (F.col("t1") - F.col("l1")).alias("r1"),
        (F.col("t0") - F.col("l0")).alias("r0"),
        "t1", "t0",
        (F.col("l1") + F.col("l0")).alias("nl"),
        ((F.col("t1") - F.col("l1")) + (F.col("t0") - F.col("l0"))).alias("nr"),
        (F.col("t1") + F.col("t0")).alias("n"),
    )
    def gini(a, b, m):
        return (
            1.0
            - (a * 1.0 / m) * (a * 1.0 / m)
            - (b * 1.0 / m) * (b * 1.0 / m)
        )
    n, nl, nr = F.col("n"), F.col("nl"), F.col("nr")
    gain = F.when(
        (nl > 0) & (nr > 0),
        gini(F.col("t1"), F.col("t0"), n)
        - (
            (nl * 1.0 / n) * gini(F.col("l1"), F.col("l0"), nl)
            + (nr * 1.0 / n) * gini(F.col("r1"), F.col("r0"), nr)
        ),
    ).otherwise(F.lit(0.0))
    return s.select(
        "threshold", "l1", "l0", "r1", "r0",
        F.round(gain, 9).alias("gini_gain"),
    ).orderBy("threshold")


# --------------------------------------------------------------------------
# Depth-2 histogram decision tree — the stump scan grown one level:
# pick the best quantity root split by Gini gain, then the best
# DISCOUNT split inside each child, all from value-grain histograms
# (root: one fact pass; children: ONE conditional fact pass keyed by
# the broadcast root threshold — the node never materializes row
# subsets). This is exactly how hist-mode GBDT grows levels at scale:
# histograms per (node, feature value), never per-row recursion.
#
# Determinism: every gain is a fixed double expression of exact
# BIGINT counts, so the argmax (rank by gain DESC, threshold ASC) is
# identical cross-engine — the min(struct) k-means tie policy.
# --------------------------------------------------------------------------
def _gini_gain_sql(t1: str, t0: str, l1: str, l0: str) -> str:
    """Weighted-Gini gain SQL for a split of (t1,t0) into (l1,l0)/rest."""
    return f"""CASE WHEN ({l1} + {l0}) > 0 AND (({t1} - {l1}) + ({t0} - {l0})) > 0 THEN
        (1.0 - ({t1} * 1.0 / ({t1} + {t0})) * ({t1} * 1.0 / ({t1} + {t0}))
             - ({t0} * 1.0 / ({t1} + {t0})) * ({t0} * 1.0 / ({t1} + {t0})))
        - ((({l1} + {l0}) * 1.0 / ({t1} + {t0}))
           * (1.0 - ({l1} * 1.0 / ({l1} + {l0})) * ({l1} * 1.0 / ({l1} + {l0}))
                  - ({l0} * 1.0 / ({l1} + {l0})) * ({l0} * 1.0 / ({l1} + {l0})))
           + ((({t1} - {l1}) + ({t0} - {l0})) * 1.0 / ({t1} + {t0}))
             * (1.0 - (({t1} - {l1}) * 1.0 / (({t1} - {l1}) + ({t0} - {l0})))
                      * (({t1} - {l1}) * 1.0 / (({t1} - {l1}) + ({t0} - {l0})))
                    - (({t0} - {l0}) * 1.0 / (({t1} - {l1}) + ({t0} - {l0})))
                      * (({t0} - {l0}) * 1.0 / (({t1} - {l1}) + ({t0} - {l0})))))
        ELSE 0.0 END"""


@register(
    "ml_tree_depth2",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS disc,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    qhist AS (
      SELECT q AS v, CAST(sum(y) AS BIGINT) AS c1,
             CAST(sum(1 - y) AS BIGINT) AS c0
      FROM base GROUP BY q
    ),
    qtot AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
                    CAST(sum(c0) AS BIGINT) AS t0 FROM qhist),
    qcum AS (
      SELECT h.v AS thr, CAST(sum(h2.c1) AS BIGINT) AS l1,
             CAST(sum(h2.c0) AS BIGINT) AS l0
      FROM qhist h JOIN qhist h2 ON h2.v <= h.v GROUP BY h.v
    ),
    root AS (
      SELECT thr, l1, l0, t1, t0,
             {_gini_gain_sql("t1", "t0", "l1", "l0")} AS gain,
             row_number() OVER (
               ORDER BY {_gini_gain_sql("t1", "t0", "l1", "l0")} DESC, thr
             ) AS rn
      FROM qcum, qtot
    ),
    best_root AS (SELECT thr, l1, l0, t1, t0, gain FROM root WHERE rn = 1),
    dhist AS (
      SELECT CASE WHEN b.q <= r.thr THEN 'left' ELSE 'right' END AS side,
             b.disc AS v, CAST(sum(b.y) AS BIGINT) AS c1,
             CAST(sum(1 - b.y) AS BIGINT) AS c0
      FROM base b CROSS JOIN best_root r GROUP BY 1, 2
    ),
    dtot AS (
      SELECT side, CAST(sum(c1) AS BIGINT) AS t1,
             CAST(sum(c0) AS BIGINT) AS t0
      FROM dhist GROUP BY side
    ),
    dcum AS (
      SELECT h.side, h.v AS thr, CAST(sum(h2.c1) AS BIGINT) AS l1,
             CAST(sum(h2.c0) AS BIGINT) AS l0
      FROM dhist h JOIN dhist h2 ON h2.side = h.side AND h2.v <= h.v
      GROUP BY h.side, h.v
    ),
    child AS (
      SELECT c.side, c.thr, c.l1, c.l0, t.t1, t.t0,
             {_gini_gain_sql("t.t1", "t.t0", "c.l1", "c.l0")} AS gain,
             row_number() OVER (
               PARTITION BY c.side
               ORDER BY {_gini_gain_sql("t.t1", "t.t0", "c.l1", "c.l0")} DESC,
                        c.thr
             ) AS rn
      FROM dcum c JOIN dtot t ON t.side = c.side
    )
    SELECT 'root' AS node, 'quantity' AS feature, thr AS threshold,
           t1 + t0 AS n_rows, round(t1 * 1.0 / (t1 + t0), 6) AS pos_share,
           round(gain, 9) AS gini_gain
    FROM best_root
    UNION ALL
    SELECT side AS node, 'discount_pct' AS feature, thr AS threshold,
           t1 + t0 AS n_rows, round(t1 * 1.0 / (t1 + t0), 6) AS pos_share,
           round(gain, 9) AS gini_gain
    FROM child WHERE rn = 1
    """,
)
def ml_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 hist-mode tree: best quantity root split, then the best
    discount split per child — histograms only, no row recursion."""
    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    ).persist()

    def gain_col(t1, t0, l1, l0):
        n = t1 + t0
        nl = l1 + l0
        nr = (t1 - l1) + (t0 - l0)
        def gini(a, b, m):
            return (
                1.0
                - (a * 1.0 / m) * (a * 1.0 / m)
                - (b * 1.0 / m) * (b * 1.0 / m)
            )
        return F.when(
            (nl > 0) & (nr > 0),
            gini(t1, t0, n)
            - (
                (nl * 1.0 / n) * gini(l1, l0, nl)
                + (nr * 1.0 / n) * gini(t1 - l1, t0 - l0, nr)
            ),
        ).otherwise(F.lit(0.0))

    qhist = base.groupBy(F.col("q").alias("v")).agg(
        F.sum("y").cast("bigint").alias("c1"),
        F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("c0"),
    )
    qtot = qhist.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c0").cast("bigint").alias("t0"),
    )
    h, h2 = qhist.alias("h"), qhist.alias("h2")
    qcum = (
        h.join(F.broadcast(h2), F.col("h2.v") <= F.col("h.v"))
        .groupBy(F.col("h.v").alias("thr"))
        .agg(
            F.sum("h2.c1").cast("bigint").alias("l1"),
            F.sum("h2.c0").cast("bigint").alias("l0"),
        )
    )
    g = gain_col(F.col("t1"), F.col("t0"), F.col("l1"), F.col("l0"))
    root = qcum.crossJoin(F.broadcast(qtot)).withColumn("gain", g)
    # 50-row value grain (quantity is 1..50 at any SF): the global
    # argmax window is dimension-bounded — allowlisted in the scale
    # gate alongside w_nation_revenue_rank.
    rn = F.row_number().over(W.orderBy(F.col("gain").desc(), F.col("thr")))
    best_root = (
        root.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
    )
    dhist = (
        base.crossJoin(F.broadcast(best_root.select("thr")))
        .groupBy(
            F.when(F.col("q") <= F.col("thr"), "left")
            .otherwise("right")
            .alias("side"),
            F.col("disc").alias("v"),
        )
        .agg(
            F.sum("y").cast("bigint").alias("c1"),
            F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("c0"),
        )
    ).persist()
    dtot = dhist.groupBy("side").agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c0").cast("bigint").alias("t0"),
    )
    dh, dh2 = dhist.alias("dh"), dhist.alias("dh2")
    dcum = (
        dh.join(
            F.broadcast(dh2),
            (F.col("dh2.side") == F.col("dh.side"))
            & (F.col("dh2.v") <= F.col("dh.v")),
        )
        .groupBy(F.col("dh.side").alias("side"), F.col("dh.v").alias("thr"))
        .agg(
            F.sum("dh2.c1").cast("bigint").alias("l1"),
            F.sum("dh2.c0").cast("bigint").alias("l0"),
        )
    )
    child = dcum.join(dtot, "side").withColumn(
        "gain", gain_col(F.col("t1"), F.col("t0"), F.col("l1"), F.col("l0"))
    )
    crn = F.row_number().over(
        W.partitionBy("side").orderBy(F.col("gain").desc(), F.col("thr"))
    )
    best_child = child.withColumn("rn", crn).filter(F.col("rn") == 1)
    root_out = best_root.select(
        F.lit("root").alias("node"),
        F.lit("quantity").alias("feature"),
        F.col("thr").alias("threshold"),
        (F.col("t1") + F.col("t0")).alias("n_rows"),
        F.round(F.col("t1") * 1.0 / (F.col("t1") + F.col("t0")), 6).alias(
            "pos_share"
        ),
        F.round("gain", 9).alias("gini_gain"),
    )
    child_out = best_child.select(
        F.col("side").alias("node"),
        F.lit("discount_pct").alias("feature"),
        F.col("thr").alias("threshold"),
        (F.col("t1") + F.col("t0")).alias("n_rows"),
        F.round(F.col("t1") * 1.0 / (F.col("t1") + F.col("t0")), 6).alias(
            "pos_share"
        ),
        F.round("gain", 9).alias("gini_gain"),
    )
    return root_out.unionByName(child_out)
