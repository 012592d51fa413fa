"""As-of and range joins — custom temporal operators Spark lacks as
built-ins (brief: implement as compositions of existing DataFrame ops
where semantics allow).

``asof_join``: the scalable merge-asof. Instead of a range self-join
(O(n*m) pair explosion) it unions both sides tagged, sorts once per
key, and carries the most recent right-side value forward with a
running ``max(...) OVER (rows unbounded preceding)`` window. One
shuffle + one sort per key — the same asymptotics a native merge-asof
engine (pandas merge_asof, kdb aj) gets, expressed in pure Catalyst
operators.

``rj_orders_promo_periods``: non-equi range join against a small
interval table (broadcast nested loop — correct plan when one side is
tiny; for two large interval sets the scale path is bucketing time
into grid cells and equi-joining on the cell).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..session import local_frame


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row of the same key
    with right_time <= left_time (ties: right wins). Returns all left
    columns + ``asof_<time>`` + requested right value columns
    (NULL when no prior right row, or outside ``tolerance_seconds``).
    """
    lt = left.withColumn("_side", F.lit(1)).withColumn("_t", F.col(left_time))
    rt = (
        right.select(
            F.col(key),
            F.col(right_time).alias("_t"),
            F.lit(0).alias("_side"),
            F.struct(F.col(right_time).alias("_rt"), *[F.col(c) for c in right_values]).alias(
                "_rv"
            ),
        )
    )
    l_cols = [c for c in left.columns]
    lt = lt.select(*l_cols, "_side", "_t", F.lit(None).cast(rt.schema["_rv"].dataType).alias("_rv"))
    rt_full = rt.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) if c != key else F.col(key) for c in l_cols],
        "_side",
        "_t",
        "_rv",
    )
    unioned = lt.unionByName(rt_full)
    # right rows sort before left rows at equal timestamps (side 0 < 1),
    # so an exactly-simultaneous right row is visible to the left row.
    w = (
        W.partitionBy(key)
        .orderBy("_t", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = unioned.withColumn("_last_rv", F.last("_rv", ignorenulls=True).over(w))
    out = filled.filter(F.col("_side") == 1)
    asof_time: Column = F.col("_last_rv._rt")
    if tolerance_seconds is not None:
        # unix_timestamp works for both TIMESTAMP and TIMESTAMP_NTZ inputs
        # (TIMESTAMP_NTZ no longer casts to BIGINT directly).
        in_tol = (
            F.unix_timestamp(F.col(left_time)) - F.unix_timestamp(asof_time)
        ) <= tolerance_seconds
        out = out.withColumn("_last_rv", F.when(in_tol, F.col("_last_rv")))
    sel = [*l_cols, F.col("_last_rv._rt").alias(f"asof_{right_time}")]
    sel += [F.col(f"_last_rv.{c}").alias(c) for c in right_values]
    return out.select(*sel)


# --------------------------------------------------------------------------
# attribution: each purchase as-of-joined to the user's latest prior view.
# --------------------------------------------------------------------------
@register(
    "asof_purchase_attribution",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, 1 AS side,
             CAST(NULL AS TIMESTAMP) AS view_ts, CAST(NULL AS DOUBLE) AS view_value
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 0 AS side, ts AS view_ts, value AS view_value
      FROM events WHERE event_type = 'view'
    ),
    filled AS (
      SELECT user_id, ts, event_id, side,
             last_value(view_ts IGNORE NULLS) OVER w AS last_view_ts,
             last_value(view_value IGNORE NULLS) OVER w AS last_view_value
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           event_id AS purchase_event_id,
           ts AS purchase_ts,
           last_view_ts AS asof_view_ts,
           round(last_view_value, 6) AS view_value
    FROM filled WHERE side = 1
    """,
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event_id"), F.col("ts").alias("purchase_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    joined = asof_join(
        purchases,
        views,
        key="user_id",
        left_time="purchase_ts",
        right_time="ts",
        right_values=["view_value"],
    )
    return joined.select(
        "user_id",
        "purchase_event_id",
        "purchase_ts",
        F.col("asof_ts").alias("asof_view_ts"),
        F.round("view_value", 6).alias("view_value"),
    )


# --------------------------------------------------------------------------
# range join: orders against a small promo-period interval table.
# --------------------------------------------------------------------------
_PROMOS = (
    ("LAUNCH_95", "1995-01-01", "1995-06-30"),
    ("MILLENNIUM", "1999-10-01", "2000-03-31"),
    ("SUMMER_00", "2000-06-01", "2000-08-31"),
)


@register(
    "rj_orders_in_promo_periods",
    oracle=f"""
    WITH promos(promo, start_d, end_d) AS (
      VALUES {", ".join(f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e} 23:59:59')" for n, s, e in _PROMOS)}
    )
    SELECT promo, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS promo_revenue
    FROM orders JOIN promos
      ON o_orderdate >= start_d AND o_orderdate <= end_d
    GROUP BY promo
    """,
)
def rj_orders_in_promo_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    promos = local_frame(
        spark,
        [(n, f"{s} 00:00:00", f"{e} 23:59:59") for n, s, e in _PROMOS],
        "promo string, start_d string, end_d string",
    ).select(
        "promo",
        F.col("start_d").cast("timestamp"),
        F.col("end_d").cast("timestamp"),
    )
    return (
        orders.join(
            F.broadcast(promos),
            (F.col("o_orderdate") >= F.col("start_d"))
            & (F.col("o_orderdate") <= F.col("end_d")),
        )
        .groupBy("promo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("promo_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Binned interval join — the scale path for interval tables too large
# to broadcast-theta (rj_orders_in_promo_periods handles the 3-row
# case; at millions of intervals a theta join is O(n*m)). Standard
# rewrite: expand every interval to the fixed-width time buckets it
# overlaps (explode over a sequence — each interval spans <= 3 buckets
# because bucket width 64d > max length 90d / 2), equi-join facts on
# (key, bucket), then apply the exact bounds as a post-filter. The
# shuffle keys on (nation, bucket) — a hash equi-join at any scale.
#
# The 200-interval campaign table derives from pure integer
# arithmetic (no RNG), so BOTH engines construct it identically — and
# the DuckDB oracle deliberately uses the NAIVE theta-join
# formulation: the hash match proves the binned rewrite is
# semantics-preserving, not just fast.
# --------------------------------------------------------------------------
RJ_BUCKET_DAYS = 64
RJ_PER_NATION = 8


@register(
    "rj_binned_interval_revenue",
    oracle=f"""
    WITH ivals AS (
      SELECT n * 100 + i AS promo_id, n AS nationkey,
             (n * 37 + i * 293) % 2400 AS start_dy,
             (n * 37 + i * 293) % 2400 + 10 + (n * 7 + i * 13) % 80 AS end_dy
      FROM (SELECT unnest(range(0, 25)) AS n),
           (SELECT unnest(range(0, {RJ_PER_NATION})) AS i)
    ),
    fact AS (
      SELECT c.c_nationkey AS nationkey,
             date_diff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE))
                 AS dy,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT iv.promo_id,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(f.cents) / 100.0, 2) AS revenue
    FROM fact f JOIN ivals iv
      ON f.nationkey = iv.nationkey
     AND f.dy >= iv.start_dy AND f.dy <= iv.end_dy
    GROUP BY 1
    """,
)
def rj_binned_interval_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-campaign order count/revenue via the bucketed interval-join
    rewrite (interval explode to {RJ_BUCKET_DAYS}-day buckets +
    (nation, bucket) equi-join + exact bounds filter); oracle is the
    naive theta join."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    spark_ = orders.sparkSession
    ivals = (
        spark_.range(0, 25)
        .select(F.col("id").alias("n"))
        .crossJoin(spark_.range(0, RJ_PER_NATION).select(F.col("id").alias("i")))
        .select(
            (F.col("n") * 100 + F.col("i")).alias("promo_id"),
            F.col("n").alias("nationkey"),
            ((F.col("n") * 37 + F.col("i") * 293) % 2400).alias("start_dy"),
            (
                (F.col("n") * 37 + F.col("i") * 293) % 2400
                + 10
                + (F.col("n") * 7 + F.col("i") * 13) % 80
            ).alias("end_dy"),
        )
    )
    binned = ivals.select(
        "promo_id",
        "nationkey",
        "start_dy",
        "end_dy",
        F.explode(
            F.sequence(
                F.expr(f"start_dy DIV {RJ_BUCKET_DAYS}"),
                F.expr(f"end_dy DIV {RJ_BUCKET_DAYS}"),
            )
        ).alias("bucket"),
    )
    fact = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.col("c_nationkey").alias("nationkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("dy"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    joined = fact.withColumn(
        "bucket", F.expr(f"dy DIV {RJ_BUCKET_DAYS}")
    ).join(binned, ["nationkey", "bucket"]).filter(  # equi-keyed: Catalyst/AQE picks broadcast vs shuffle by size
        (F.col("dy") >= F.col("start_dy")) & (F.col("dy") <= F.col("end_dy"))
    )
    return joined.groupBy("promo_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
    )
