"""TPC-H query family, part III — the remaining canonical shapes.

The reference has no joins or subqueries at all (SURVEY.md §2.3); the
driver's star schema is TPC-H-ish but slim (no partsupp, no
commit/receipt dates, no shipmode), so each classic query is adapted to
the columns that exist while keeping the *operator shape* that makes it
interesting:

- q02: min-per-group + equality back-join (min-cost supplier)
- q08: conditional-aggregate ratio (national market share)
- q09: expression profit + multi-dim group (product-type profit)
- q11: HAVING over a scalar subquery (important stock)
- q12: conditional counts over a late-shipment predicate
- q15: top-1-with-ties via scalar-subquery max (top supplier)
- q16: distinct pairs + anti-join + grouped countDistinct
- q17: correlated per-group average (small-quantity revenue)
- q19: disjunction-of-conjunctions predicate (pushdown stress)
- q20: semi-join over an aggregate subquery (surplus suppliers)
- q21: exists + not-exists self-joins (sole late supplier)

Determinism notes (cross-engine value-hash): every threshold, equality
join, or max/ties comparison runs on *integer-valued* sums (quantities,
counts) or raw parquet values (min of a stored double) — exact in IEEE
double regardless of summation order, so Spark and DuckDB pick
identical row sets. Money sums are rounded only at output.

Scale notes: dimension joins broadcast; the self-join shapes (q17, q21)
shuffle lineitem by its join key once and reuse it; at 100 TB both
sides of lineitem-lineitem would be bucketed by l_orderkey /
l_partkey to make these co-located joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Q2 shape: min-per-group + back-join. Cost = min observed sale price per
# (part, supplier) — an exact stored double, so the equality join on the
# per-part minimum is deterministic across engines.
# --------------------------------------------------------------------------
@register(
    "q02_min_cost_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, min(cost) AS min_cost FROM costs GROUP BY l_partkey
    )
    SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
           p_partkey, round(c.cost, 2) AS supply_cost, s_suppkey
    FROM costs c
    JOIN best  ON c.l_partkey = best.l_partkey AND c.cost = best.min_cost
    JOIN part     ON c.l_partkey = p_partkey
    JOIN supplier ON c.l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
    ORDER BY s_acctbal DESC, p_partkey, s_suppkey
    LIMIT 20
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("cost")
    )
    best = costs.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("cost").alias("min_cost")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        costs.join(
            best,
            (costs.l_partkey == best.b_partkey) & (costs.cost == best.min_cost),
        )
        .join(F.broadcast(part), costs.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), costs.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.round("cost", 2).alias("supply_cost"),
            "s_suppkey",
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q8 shape: national market share — conditional-aggregate ratio per year.
# --------------------------------------------------------------------------
@register(
    "q08_market_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(sum(CASE WHEN n2.n_name = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    JOIN part      ON l_partkey = p_partkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    GROUP BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = _t(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n2.n_name") == "NATION_3", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q9 shape: product-line profit by supplier nation and year. Profit proxy
# uses p_retailprice in place of the missing ps_supplycost.
# --------------------------------------------------------------------------
@register(
    "q09_product_profit",
    oracle="""
    SELECT n_name AS supp_nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           sum(floor((l_extendedprice * (1 - l_discount)
                      - 0.5 * p_retailprice * l_quantity) * 100 + 0.5)) / 100
             AS profit,
           count(*) AS n_lines
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY supp_nation, o_year
    """,
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    # floor-based cents per line => integer-valued summands, exact sum
    # regardless of order (round(sum, 2) flips at the boundary otherwise).
    profit = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
        + F.lit(0.5)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            (F.sum(profit) / 100).alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q11 shape: HAVING over a scalar subquery. Thresholds compare integer-
# valued quantity sums (exact in double) so the row set is deterministic.
# --------------------------------------------------------------------------
@register(
    "q11_important_stock",
    oracle="""
    SELECT l_partkey,
           round(sum(l_quantity), 2) AS part_qty,
           count(*) AS n_lines
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
    GROUP BY l_partkey
    HAVING sum(l_quantity) > (
      SELECT 0.0005 * sum(l_quantity)
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    europe_lines = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    # Cached so the scalar-subquery total and the HAVING filter share one
    # computation of the join+aggregate subtree (one lineitem scan), and
    # the total joins back as a broadcast 1-row cross join — fully lazy,
    # no driver collect at plan-construction time.
    per_part = europe_lines.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("_qty"), F.count(F.lit(1)).alias("n_lines")
    )
    per_part.cache()
    total = per_part.agg(F.sum("_qty").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_qty") > 0.0005 * F.col("_total"))
        .select(
            "l_partkey",
            F.round("_qty", 2).alias("part_qty"),
            "n_lines",
        )
    )


# --------------------------------------------------------------------------
# Q12 shape: late-shipment priority classes — conditional counts. "Late"
# = shipped >60 days after order date (no commit/receipt dates in schema).
# --------------------------------------------------------------------------
@register(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q15 shape: top supplier with ties via scalar-subquery max. Ranking
# metric is total shipped quantity (integer-valued => exact max).
# --------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle="""
    WITH supplier_perf AS (
      SELECT l_suppkey, sum(l_quantity) AS total_qty,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-07-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_qty, 2) AS total_qty, total_revenue
    FROM supplier_perf JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_qty = (SELECT max(total_qty) FROM supplier_perf)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    perf = li.groupBy("l_suppkey").agg(
        F.sum("l_quantity").alias("total_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        ),
    )
    # Cached so the scalar max and the tie filter share one computation of
    # the filtered aggregate; the max joins back as a broadcast 1-row
    # cross join instead of a driver-side collect.
    perf.cache()
    best = perf.agg(F.max("total_qty").alias("_best"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        perf.crossJoin(F.broadcast(best))
        .filter(F.col("total_qty") == F.col("_best"))
        .join(F.broadcast(supp), perf.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_qty", 2).alias("total_qty"),
            "total_revenue",
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16 shape: supplier variety per part group — distinct pairs, an
# anti-join against an excluded supplier set, grouped countDistinct.
# --------------------------------------------------------------------------
@register(
    "q16_part_supplier_variety",
    oracle="""
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
    JOIN part ON l_partkey = p_partkey
    WHERE p_type <> 'PROMO'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    LIMIT 30
    """,
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(bad_supp, pairs.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
        .limit(30)
    )


# --------------------------------------------------------------------------
# Q17 shape: correlated per-group average — lineitems below half their
# part's average quantity. avg of integer-valued doubles is a single
# IEEE division => identical in both engines.
# --------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    # Decorrelate: per-part average once, broadcast back onto the fact.
    part_avg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(part_avg, li.l_partkey == part_avg.a_partkey)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q19 shape: disjunction-of-conjunctions — three (brand, size, quantity)
# bands OR-ed together. Exercises CNF conversion / partial pushdown of
# the shared join key while each conjunct filters post-join.
# --------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q20 shape: semi-join over an aggregate subquery — suppliers who moved
# surplus volume of widget parts in 1997, restricted to one region.
# --------------------------------------------------------------------------
@register(
    "q20_surplus_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE '%widget%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 300
      )
    ORDER BY s_suppkey
    """,
)
def q20_surplus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    surplus = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 300)
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        supp.join(surplus, supp.s_suppkey == surplus.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q21 shape: exists + not-exists self-joins — suppliers who were the sole
# late shipper on finalized multi-supplier orders. "Late" = shipped >60
# days after order date.
# --------------------------------------------------------------------------
@register(
    "q21_sole_late_supplier",
    oracle="""
    WITH li_o AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS is_late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT s_name, count(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM li_o WHERE is_late) l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM li_o l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM li_o l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.is_late
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li_o = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("is_late"),
        )
    )
    # Aggregate reformulation of the EXISTS / NOT EXISTS pair: for a
    # late supplier s on order o, "some other supplier exists" is
    # n_suppliers(o) > 1 and "no OTHER late supplier" is
    # n_late_suppliers(o) == 1 (s is the one). One per-order aggregate
    # replaces both theta self-joins, and the late->per_order join keys
    # on l_orderkey so it reuses the aggregate's output partitioning.
    # At sf0.1 both formulations are overhead-bound and equal; the win
    # is asymptotic — the theta self-joins multiply rows on hot orders
    # (quadratic per order) where the aggregate stays linear.
    late = li_o.filter("is_late").select("l_orderkey", "l_suppkey").distinct()
    per_order = li_o.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("nl"),
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        late.join(per_order, "l_orderkey")
        .filter((F.col("ns") > 1) & (F.col("nl") == 1))
        .join(F.broadcast(supp), late.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Recursive CTE surface (Spark 4 WITH RECURSIVE): bounded-depth BFS
# reachability over the support-filtered co-purchase graph. ONE SQL
# text executes verbatim on BOTH engines — the Spark side registers
# the lineitem view and runs spark.sql on the same string the oracle
# uses, so this row also pins dialect compatibility of the recursive
# surface itself.
#
# Termination/scale: the recursion is depth-bounded (<= 3 hops) with
# UNION ALL semantics — each step is one equi-join of the frontier
# against the edge list. Spark's recursive execution re-evaluates
# every CTE the recursion references on EACH iteration, so the heavy
# edge derivation (``copurchase_edges`` + ``_symmetrize``) is computed
# once into a persisted DataFrame-backed view and only the recursive
# step text runs per iteration (measured 9.7 s -> the LPA-class cost
# at sf0.1 without the cache). The recursive step SQL is identical in
# both engines; the oracle inlines the same edge derivation as plain
# CTEs, which DuckDB materializes once anyway.
# --------------------------------------------------------------------------
_REACH_EDGE_SQL = """
und AS (
  SELECT a.l_partkey pa, b.l_partkey pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS (SELECT pa src, pb dst FROM und UNION ALL SELECT pb, pa FROM und)
"""

_REACH_RECURSIVE_SQL = """
WITH RECURSIVE reach(part_id, depth) AS (
  SELECT DISTINCT src, 0 FROM edges WHERE src % 100 = 0
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.part_id
  WHERE r.depth < 3
)
SELECT CAST(part_id AS BIGINT) AS part_id,
       CAST(min(depth) AS INTEGER) AS hops,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY part_id
"""

_RECURSIVE_REACH_ORACLE = (
    "WITH RECURSIVE "
    + _REACH_EDGE_SQL.strip()
    + ",\n"
    + _REACH_RECURSIVE_SQL.strip().removeprefix("WITH RECURSIVE ")
)


@register("sql_recursive_reachability", oracle=_RECURSIVE_REACH_ORACLE)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<= 3-hop BFS reachability (min hops + path counts) from the
    part_id % 100 = 0 seed set; the recursive step SQL is the same
    text both engines execute, over a once-computed cached edge
    list."""
    from ..operators.graph import TRI_MIN_SUP, _symmetrize, copurchase_edges

    und = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    edges = _symmetrize(und, "pa", "pb", "src", "dst").persist()
    edges.createOrReplaceTempView("edges")
    return spark.sql(_REACH_RECURSIVE_SQL)


# --------------------------------------------------------------------------
# LATERAL join top-N per group — the SQL-standard correlated-derived-
# table idiom ("for each customer, their 3 highest-value orders").
# The point on Spark: Catalyst DECORRELATES the lateral subquery into
# WindowGroupLimit(partial) -> shuffle -> WindowGroupLimit(final) —
# the per-partition top-k pruning that ships only <= k rows per group
# per mapper, strictly better at 100 TB than the naive rank-window
# formulation users write by hand (which shuffles every row). The
# plan-quality test pins that shape.
# --------------------------------------------------------------------------
LATERAL_TOPN = 3

_LATERAL_SQL = f"""
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer_v c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders_v o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT {LATERAL_TOPN}
) t
"""


@register(
    "sql_lateral_topn_orders",
    oracle=f"""
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT {LATERAL_TOPN}
    ) t
    """,
)
def sql_lateral_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's top-{LATERAL_TOPN} orders by value via a
    LATERAL correlated derived table (decorrelated by Catalyst into
    partial+final WindowGroupLimit — map-side top-k pruning)."""
    table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).createOrReplaceTempView("customer_v")
    table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).createOrReplaceTempView("orders_v")
    return spark.sql(_LATERAL_SQL)
