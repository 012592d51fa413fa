"""Warehouse data-quality audits: referential integrity and robust
(MAD) outlier detection.

The reference validates *records in isolation* (`src/validation.py`,
SURVEY.md §2.6 A1-A7: nulls, regexes, ranges). A warehouse at scale
also needs *cross-table* audits — do child keys resolve? — and
*distribution-aware* checks that flag values wildly outside their
group's robust spread, which per-record range rules can't see.

Scale notes (100 TB):
- The FK audit is one LEFT JOIN + conditional count per relationship,
  on the join key the fact table would shuffle on anyway; parent sides
  reduce to DISTINCT keys first (a fraction of the fact table), and
  small parents broadcast. No row explosion: audits aggregate to one
  row per relationship.
- MAD outliers need two grouped exact medians (median of x, then
  median of |x - med|). Group cardinality here is tiny (order
  priorities), so the per-group medians are dimension-sized and join
  back as broadcasts; the fact table is scanned twice but never
  shuffled wide. At extreme group counts swap `percentile` for
  `approx_percentile` with a tolerance — same plan shape.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ._branches import explode_branches
from ..registry import register
from ..session import local_frame

# MAD -> sigma-equivalent scale for a normal distribution.
MAD_K = 1.4826
MAD_THRESHOLD = 3.0


@register(
    "dq_referential_integrity",
    oracle="""
    WITH audits AS (
      SELECT 'orders.custkey->customer' AS relationship,
             count(*) AS n_child,
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'lineitem.orderkey->orders',
             count(*),
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.partkey->part',
             count(*),
             CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.suppkey->supplier',
             count(*),
             CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    )
    SELECT relationship, n_child, n_orphans,
           round(1.0 - CAST(n_orphans AS DOUBLE) / n_child, 6) AS fk_coverage
    FROM audits
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-coverage audit over the warehouse's four child→parent edges.

    Each relationship is a LEFT JOIN against the parent's distinct keys
    with a conditional orphan count — the anti-join cardinality and the
    child count from ONE pass. Parents are broadcast (dimension-sized);
    the audit output is 4 rows regardless of fact size.
    """

    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, label: str) -> DataFrame:
        par = parent.select(F.col(pkey).alias("_pk")).distinct()
        return (
            child.select(F.col(ckey).alias("_ck"))
            .join(F.broadcast(par), F.col("_ck") == F.col("_pk"), "left")
            .agg(
                F.lit(label).alias("relationship"),
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    audits = [
        audit(orders, "o_custkey", table(spark, sf_dir, "customer"), "c_custkey",
              "orders.custkey->customer"),
        audit(lineitem, "l_orderkey", orders, "o_orderkey",
              "lineitem.orderkey->orders"),
        audit(lineitem, "l_partkey", table(spark, sf_dir, "part"), "p_partkey",
              "lineitem.partkey->part"),
        audit(lineitem, "l_suppkey", table(spark, sf_dir, "supplier"), "s_suppkey",
              "lineitem.suppkey->supplier"),
    ]
    out = reduce(DataFrame.unionByName, audits)
    return out.select(
        "relationship",
        "n_child",
        "n_orphans",
        F.round(1.0 - F.col("n_orphans").cast("double") / F.col("n_child"), 6).alias(
            "fk_coverage"
        ),
    )


@register(
    "dq_price_outliers_mad",
    oracle=f"""
    WITH med AS (
      SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderpriority
    ),
    dev AS (
      SELECT o.o_orderpriority, m.med,
             quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad
      FROM orders o JOIN med m USING (o_orderpriority)
      GROUP BY o.o_orderpriority, m.med
    )
    SELECT o.o_orderpriority AS priority,
           round(d.med, 6) AS median_price,
           round(d.mad, 6) AS mad_price,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN abs(o.o_totalprice - d.med)
                              > {MAD_THRESHOLD} * {MAD_K} * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders o JOIN dev d USING (o_orderpriority)
    GROUP BY 1, 2, 3
    """,
)
def dq_price_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier counts via median absolute deviation.

    Median and MAD are exact grouped percentiles (dimension-sized
    results broadcast back onto the facts); a value is an outlier when
    |x - median| > {MAD_THRESHOLD} * {MAD_K} * MAD — the robust
    equivalent of a 3-sigma rule, immune to the outliers' own pull on
    mean/stddev.
    """
    orders = table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    dev = (
        orders.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority", "med")
        .agg(F.percentile(F.abs(F.col("o_totalprice") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    return (
        orders.join(F.broadcast(dev), "o_orderpriority")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.round("med", 6).alias("median_price"),
            F.round("mad", 6).alias("mad_price"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(
                    F.abs(F.col("o_totalprice") - F.col("med"))
                    > MAD_THRESHOLD * MAD_K * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Benford first-digit audit: distribution-level fraud/corruption signal
# for monetary columns (fabricated or unit-mangled amounts flunk it
# while passing every per-record range rule). Dimension-sized output
# (9 rows); one partial-aggregated count per digit, total joined back
# as a broadcast single row.
# --------------------------------------------------------------------------
@register(
    "dq_benford_price",
    oracle="""
    WITH digits AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS digit,
             count(*) AS n
      FROM orders WHERE o_totalprice >= 1
      GROUP BY 1
    ),
    total AS (SELECT sum(n) AS t FROM digits)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / t, 6) AS obs_frac,
           round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford_frac,
           round(abs(CAST(n AS DOUBLE) / t
                     - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 6) AS abs_dev
    FROM digits, total
    """,
)
def dq_benford_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford.

    The digit extraction is string-based (no float log in the grouping
    key, so no ulp-boundary risk on the digit itself); expected Benford
    mass log10(1 + 1/d) evaluates to identical doubles in both engines.
    """
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = orders.groupBy(
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1).alias(
            "digit"
        )
    ).agg(F.count(F.lit(1)).alias("n"))
    total = digits.agg(F.sum("n").alias("t"))
    obs = F.col("n").cast("double") / F.col("t")
    benford = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    return digits.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_frac"),
        F.round(benford, 6).alias("benford_frac"),
        F.round(F.abs(obs - benford), 6).alias("abs_dev"),
    )


# --------------------------------------------------------------------------
# Key-uniqueness audit: the DQ dimension the reference's scoring misses
# entirely (completeness/validity/consistency/accuracy but never
# uniqueness). One partial-aggregated countDistinct per candidate key;
# output is one row per key.
# --------------------------------------------------------------------------
@register(
    "dq_key_uniqueness",
    oracle="""
    SELECT * FROM (
      SELECT 'orders.o_orderkey' AS key_col,
             count(*) AS n_rows,
             count(DISTINCT o_orderkey) AS n_distinct,
             round(1.0 - CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6)
               AS dup_ratio
      FROM orders
      UNION ALL
      SELECT 'customer.c_custkey', count(*), count(DISTINCT c_custkey),
             round(1.0 - CAST(count(DISTINCT c_custkey) AS DOUBLE) / count(*), 6)
      FROM customer
      UNION ALL
      SELECT 'lineitem.(orderkey,linenumber)', count(*),
             count(DISTINCT l_orderkey * 100 + l_linenumber),
             round(1.0 - CAST(count(DISTINCT l_orderkey * 100 + l_linenumber)
                              AS DOUBLE) / count(*), 6)
      FROM lineitem
    )
    """,
)
def dq_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate audit for the candidate primary keys.

    The lineitem compound key packs into one BIGINT
    (orderkey * 100 + linenumber, linenumber < 100 in this schema) so
    the distinct count stays a single-column hash aggregate.
    """

    def audit(df: DataFrame, label: str, key) -> DataFrame:
        return df.agg(
            F.lit(label).alias("key_col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key).alias("n_distinct"),
            F.round(
                1.0 - F.countDistinct(key).cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_ratio"),
        )

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    return (
        audit(orders, "orders.o_orderkey", F.col("o_orderkey"))
        .unionByName(audit(cust, "customer.c_custkey", F.col("c_custkey")))
        .unionByName(
            audit(
                li,
                "lineitem.(orderkey,linenumber)",
                F.col("l_orderkey") * 100 + F.col("l_linenumber"),
            )
        )
    )


# --------------------------------------------------------------------------
# k-anonymity audit: how identifiable is a record from its
# quasi-identifiers? Groups the customer registry by the QI tuple
# (nation, market segment, account-balance band) and reports the
# anonymity floor — the privacy-DQ dimension that gates publishing a
# derived dataset (records in QI groups smaller than K are
# re-identifiable and must be suppressed or generalized before
# release; the GDPR-erasure sink in storage/warehouse.py handles the
# per-subject side, this audit handles the statistical side).
#
# Scale: one groupBy on the QI tuple (partial aggregation; group count
# is the product of QI cardinalities, dimension-sized by
# construction), then a one-row rollup. No joins, no window.
# --------------------------------------------------------------------------
KANON_K = 5


@register(
    "dq_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 'debt'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS bal_band,
             count(*) AS grp
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT CAST(sum(grp) AS BIGINT) AS n_records,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(grp) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN grp < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_below_k,
           CAST(sum(CASE WHEN grp < {KANON_K} THEN grp ELSE 0 END) AS BIGINT)
               AS records_below_k,
           round(CAST(sum(CASE WHEN grp < {KANON_K} THEN grp ELSE 0 END) AS DOUBLE)
                 / sum(grp), 6) AS reident_risk_rate
    FROM qi
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity floor of the customer registry under the
    (nation, segment, balance-band) quasi-identifier tuple, K={KANON_K}."""
    cust = table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    qi = cust.groupBy(
        "c_nationkey", "c_mktsegment", band.alias("bal_band")
    ).agg(F.count(F.lit(1)).alias("grp"))
    below = F.col("grp") < KANON_K
    return qi.agg(
        F.sum("grp").cast("bigint").alias("n_records"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("grp").cast("bigint").alias("min_group_size"),
        F.sum(F.when(below, 1).otherwise(0)).cast("bigint").alias("groups_below_k"),
        F.sum(F.when(below, F.col("grp")).otherwise(0))
        .cast("bigint")
        .alias("records_below_k"),
        F.round(
            F.sum(F.when(below, F.col("grp")).otherwise(0)).cast("double")
            / F.sum("grp"),
            6,
        ).alias("reident_risk_rate"),
    )


# --------------------------------------------------------------------------
# Partition-level table checksums — the anti-entropy primitive under
# snap_orders_diff (operators/scd.py): comparing per-month checksums
# between two replicas/snapshots localizes divergence to partitions
# WITHOUT shipping rows (only the month whose checksum differs gets
# the row-level diff). Matches the warehouse's month partitioning
# (storage/warehouse.py), so a checksum row is a partition file set.
#
# The row hash canonicalizes the tuple as strings with money in
# integer CENTS (double-to-string formatting is engine-specific; cents
# are not) and sums the first 8 hex chars of md5 as BIGINT — a
# commutative reduction, exact under any row order (~15k rows x 2^32
# stays far inside BIGINT; a 100 TB table either sums into
# DECIMAL(38,0) or xors, both commutative).
# --------------------------------------------------------------------------
@register(
    "dq_orders_checksum",
    oracle="""
    WITH rows_ AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' ||
             o_orderstatus || '|' ||
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || '|' ||
             o_orderpriority AS canon
      FROM orders
    ),
    hashed AS (
      SELECT month,
             CAST(('0x' || substr(md5(canon), 1, 8))::BIGINT AS BIGINT) AS h
      FROM rows_
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS BIGINT) AS checksum
    FROM hashed GROUP BY month
    """,
)
def dq_orders_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month orders checksum: commutative BIGINT sum of md5 row
    hashes over a canonical (cents-normalized) serialization."""
    orders = table(spark, sf_dir, "orders")
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
    return (
        orders.select(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
            h.alias("h"),
        )
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("h").cast("bigint").alias("checksum"),
        )
    )


# --------------------------------------------------------------------------
# Duplicate-payment audit: distinct orders by the SAME customer for
# the SAME amount on the SAME day — the classic double-charge /
# double-ingest signature. (Exact content dedup catches identical
# ROWS; this catches distinct order keys that should arouse
# suspicion.) Pure integer/equality groupBy on (custkey, day, cents);
# output one row per suspicious group with the involved order keys
# aggregated in deterministic sorted order.
# --------------------------------------------------------------------------
# The synthetic orders have no natural double-charges, so every 50th
# order is re-ingested under a shifted key (the dd_exact_dedup
# injected-fixture policy) — the audit then has real work at any SF.
@register(
    "dq_duplicate_orders",
    oracle="""
    WITH corpus AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderdate, o_totalprice
      FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT o_custkey AS custkey,
           CAST(CAST(o_orderdate AS DATE) AS DATE) AS day,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(o_orderkey) AS BIGINT) AS first_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS last_orderkey
    FROM corpus
    GROUP BY 1, 2, 3
    HAVING count(*) >= 2
    """,
)
def dq_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups of >= 2 distinct orders with identical (customer, day,
    amount) — the double-charge audit (every 50th order re-ingested
    under a shifted key plays the duplicate)."""
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    dupes = base.filter(F.col("o_orderkey") % 50 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
    )
    orders = base.unionByName(dupes)
    return (
        orders.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_orderkey").cast("bigint").alias("first_orderkey"),
            F.max("o_orderkey").cast("bigint").alias("last_orderkey"),
        )
        .filter(F.col("n_orders") >= 2)
    )


# --------------------------------------------------------------------------
# l-diversity audit: k-anonymity's companion. A quasi-identifier group
# can be large (k-anonymous) yet still leak — if every record in it
# shares one sensitive value, membership reveals the attribute. Per
# (nation, market-segment) equivalence class of order records, the
# number of DISTINCT sensitive values (order priority) is the class's
# l; classes with l < required fail the audit.
#
# Scale shape: one fact-sized broadcast join to attach the QI columns,
# then a (QI, sensitive)-grain reduction followed by a QI-grain rollup
# — both map-side-combining; the distinct count is exact because it
# counts rows of the already-reduced (QI, sensitive) relation, never a
# corpus-wide count(DISTINCT) in one pass.
# --------------------------------------------------------------------------
L_DIVERSITY_REQUIRED = 3


@register(
    "dq_l_diversity",
    oracle=f"""
    WITH joined AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    grain AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority,
             CAST(count(*) AS BIGINT) AS n
      FROM joined GROUP BY 1, 2, 3
    )
    SELECT CAST(c_nationkey AS INTEGER) AS c_nationkey, c_mktsegment,
           CAST(sum(n) AS BIGINT) AS n_records,
           CAST(count(*) AS BIGINT) AS l_distinct,
           CAST(count(*) >= {L_DIVERSITY_REQUIRED} AS BOOLEAN) AS meets_l
    FROM grain GROUP BY 1, 2
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity of order priority within (nation, segment)
    quasi-identifier classes."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    grain = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return grain.groupBy(
        F.col("c_nationkey").cast("int").alias("c_nationkey"), "c_mktsegment"
    ).agg(
        F.sum("n").cast("bigint").alias("n_records"),
        F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
        (F.count(F.lit(1)) >= L_DIVERSITY_REQUIRED).alias("meets_l"),
    )


# --------------------------------------------------------------------------
# Column profile drift — the dbt/Great-Expectations-style audit: for
# each monitored column, per-snapshot-half row count, null count,
# distinct count, and min/max, side by side. Run between yesterday's
# and today's partition (here: even/odd orderkey halves as the two
# snapshots), it catches schema rot the row-level checks miss — a
# feed that silently starts sending NULL priorities, a code change
# that collapses status cardinality, a unit change that shifts the
# price range.
#
# Scale: ONE pass per half over the fact table computing every
# column's stats as conditional aggregates (no per-column scans); the
# output is |columns| x 2 rows. min/max stringify through types both
# engines print identically (VARCHAR, DATE, BIGINT, and sub-1e7
# doubles use shortest-repr in both).
# --------------------------------------------------------------------------
_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice")


@register(
    "dq_profile_drift",
    oracle=f"""
    WITH halves AS (
      SELECT *, CAST(o_orderkey % 2 AS INTEGER) AS half FROM orders
    )
    {" UNION ALL ".join(
        f'''SELECT '{c}' AS col_name, half,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count({c}) AS BIGINT) AS n_null,
             CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
             CAST(min({c}) AS VARCHAR) AS min_val,
             CAST(max({c}) AS VARCHAR) AS max_val
      FROM halves GROUP BY half''' for c in _PROFILE_COLS
    )}
    """,
)
def dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column, per-snapshot-half profile (rows, nulls, distincts,
    min/max) over the even/odd orderkey halves."""
    halves = table(spark, sf_dir, "orders").withColumn(
        "half", (F.col("o_orderkey") % 2).cast("int")
    )
    # Deliberately one branch per column rather than one multi-distinct
    # agg: column pruning means each branch scans only (o_orderkey +
    # its one profiled column), so the union reads ~the same total
    # bytes as a single all-column scan — while the fused alternative
    # (4 countDistincts in one agg) plans as a 5-way Expand feeding
    # SortAggregates with set buffers: measured 3x slower at sf0.1 and
    # a worse shape at any SF (sorting 5x-expanded rows vs pipelined
    # codegen hash aggs).
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            halves.groupBy("half").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias("n_null"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.min(c).cast("string").alias("min_val"),
                F.max(c).cast("string").alias("max_val"),
            ).select(
                F.lit(c).alias("col_name"),
                "half",
                "n_rows",
                "n_null",
                "n_distinct",
                "min_val",
                "max_val",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# t-closeness audit — the third leg of the anonymization tripod
# (k-anonymity: classes are big; l-diversity: classes are varied;
# t-closeness: class-level sensitive distributions stay CLOSE to the
# global one, so membership in a class leaks no distributional
# information). Distance is total-variation (the categorical EMD with
# unit ground distance): TVD_c = 1/2 * sum_s |p(s|c) - p(s)|.
#
# Exactness: both distributions are rationals over integer counts, so
#   TVD_c = (sum_present |n_cs*N - g_s*n_c| + (N - sum_present g_s)*n_c)
#           / (2 * n_c * N)
# is a ratio of exact BIGINTs (the absent-sensitive-values term folds
# into (N - sum g_s present) * n_c); the threshold test multiplies
# through instead of comparing floats. Float appears only in the final
# rounded report column.
#
# Scale: one broadcast-dim join, a (QI, sensitive)-grain reduction, a
# 5-row broadcast of the global margin, a QI-grain rollup — the same
# plan family as dq_l_diversity; nothing fact-sized ever re-shuffles.
# --------------------------------------------------------------------------
T_CLOSENESS_DEN = 5  # threshold t = 1/5 = 0.2


@register(
    "dq_t_closeness",
    oracle=f"""
    WITH joined AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    grain AS (
      SELECT c_nationkey, c_mktsegment, o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_cs
      FROM joined GROUP BY 1, 2, 3
    ),
    gdist AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS g_s
      FROM joined GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM joined),
    cls AS (
      SELECT g.c_nationkey, g.c_mktsegment,
             CAST(sum(g.n_cs) AS BIGINT) AS n_c,
             CAST(sum(abs(g.n_cs * t.n - gl.g_s * cs.n_c)) AS BIGINT)
                 AS present_term,
             CAST(sum(gl.g_s) AS BIGINT) AS present_g
      FROM grain g
      JOIN gdist gl USING (o_orderpriority)
      JOIN (SELECT c_nationkey, c_mktsegment,
                   CAST(sum(n_cs) AS BIGINT) AS n_c
            FROM grain GROUP BY 1, 2) cs
        USING (c_nationkey, c_mktsegment)
      CROSS JOIN tot t
      GROUP BY 1, 2
    )
    SELECT CAST(c_nationkey AS INTEGER) AS c_nationkey, c_mktsegment,
           n_c AS n_records,
           round((present_term + (t.n - present_g) * n_c)
                 / (2.0 * n_c * t.n), 6) AS tvd,
           CAST({T_CLOSENESS_DEN} * (present_term + (t.n - present_g) * n_c)
                <= 2 * n_c * t.n AS BOOLEAN) AS meets_t
    FROM cls CROSS JOIN tot t
    """,
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation t-closeness of order priority within (nation,
    segment) quasi-identifier classes, exact-integer arithmetic."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_nationkey", "c_mktsegment", "o_orderpriority")
    # contingency-table-sized; the marginals and total roll up from it
    # instead of re-scanning the orders-customer join (which would run
    # three times otherwise).
    grain = joined.groupBy(
        "c_nationkey", "c_mktsegment", "o_orderpriority"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_cs")).persist()
    glob = grain.groupBy("o_orderpriority").agg(
        F.sum("n_cs").cast("bigint").alias("g_s")
    )
    tot = grain.agg(F.sum("n_cs").cast("bigint").alias("n"))
    cls_tot = grain.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_cs").cast("bigint").alias("n_c")
    )
    cls = (
        grain.join(F.broadcast(glob), "o_orderpriority")
        .join(cls_tot, ["c_nationkey", "c_mktsegment"])
        .crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.max("n_c").cast("bigint").alias("n_c"),
            F.sum(
                F.abs(
                    F.col("n_cs") * F.col("n") - F.col("g_s") * F.col("n_c")
                )
            )
            .cast("bigint")
            .alias("present_term"),
            F.sum("g_s").cast("bigint").alias("present_g"),
        )
    )
    num = F.col("present_term") + (F.col("n") - F.col("present_g")) * F.col("n_c")
    den = 2 * F.col("n_c") * F.col("n")
    return cls.crossJoin(F.broadcast(tot)).select(
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        "c_mktsegment",
        F.col("n_c").alias("n_records"),
        F.round(num / den.cast("double"), 6).alias("tvd"),
        (F.lit(T_CLOSENESS_DEN) * num <= den).alias("meets_t"),
    )


# --------------------------------------------------------------------------
# Functional-dependency discovery — the data-profiling pass that finds
# which column determines which (key candidates, denormalization
# opportunities, constraint regressions after a bad backfill). For a
# fixed candidate set over the orders⨝customer relation, A→B holds
# iff every A-group carries exactly one B value; the report gives the
# violating-group count and the confidence (share of A-groups that
# are single-valued), so a 99.9%-FD (one corrupt feed row) is visible
# next to a true FD.
#
# Scale: ONE pass over the fact relation stacks all candidates into a
# (fd, a, b) grain — both reductions are map-side-combining grouped
# counts; no per-candidate rescans, no count(DISTINCT) over the raw
# fact. Values stringify so one relation carries all candidates.
# --------------------------------------------------------------------------
_FD_CANDIDATES = (
    ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
    ("o_custkey->c_mktsegment", "o_custkey", "c_mktsegment"),
    ("o_custkey->c_nationkey", "o_custkey", "c_nationkey"),
    ("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
    ("c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"),
)


@register(
    "dq_functional_dependencies",
    oracle=f"""
    WITH joined AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             c_mktsegment, c_nationkey
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    stacked AS (
      {" UNION ALL ".join(
          f"SELECT '{name}' AS fd, CAST({a} AS VARCHAR) AS a_val,"
          f" CAST({b} AS VARCHAR) AS b_val FROM joined"
          for name, a, b in _FD_CANDIDATES
      )}
    ),
    grain AS (
      SELECT fd, a_val, b_val, CAST(count(*) AS BIGINT) AS n
      FROM stacked GROUP BY 1, 2, 3
    ),
    per_a AS (
      SELECT fd, a_val, CAST(count(*) AS BIGINT) AS ndv_b,
             CAST(sum(n) AS BIGINT) AS n_rows
      FROM grain GROUP BY 1, 2
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
           round(sum(CASE WHEN ndv_b = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS confidence,
           CAST(sum(CASE WHEN ndv_b > 1 THEN 1 ELSE 0 END) = 0 AS BOOLEAN)
               AS holds
    FROM per_a GROUP BY fd
    """,
)
def dq_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violating-group counts and confidence for a candidate set of
    functional dependencies, in one stacked pass."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey", "o_custkey", "o_orderpriority", "c_mktsegment", "c_nationkey"
    )
    stack_args = ", ".join(
        f"'{name}', CAST({a} AS STRING), CAST({b} AS STRING)"
        for name, a, b in _FD_CANDIDATES
    )
    stacked = joined.select(
        F.expr(
            f"stack({len(_FD_CANDIDATES)}, {stack_args}) AS (fd, a_val, b_val)"
        )
    )
    grain = stacked.groupBy("fd", "a_val", "b_val").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_a = grain.groupBy("fd", "a_val").agg(
        F.count(F.lit(1)).cast("bigint").alias("ndv_b"),
        F.sum("n").cast("bigint").alias("n_rows"),
    )
    viol = F.sum((F.col("ndv_b") > 1).cast("bigint"))
    return per_a.groupBy("fd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        viol.cast("bigint").alias("violating_groups"),
        F.round(
            F.sum((F.col("ndv_b") == 1).cast("bigint")) * 1.0 / F.count(F.lit(1)), 6
        ).alias("confidence"),
        (viol == 0).alias("holds"),
    )


# --------------------------------------------------------------------------
# Expectation suite — the Great-Expectations-style declarative rule
# runner: a suite is DATA (rule name, kind, column, params), compiled
# to Column predicates and evaluated as conditional counts in ONE
# pass over the table; uniqueness rules (which need a key grain)
# evaluate in one extra grain pass and union in. A pipeline gates a
# batch on `all(passed)`; the per-rule violation counts are the
# triage report.
#
# Rule kinds: not_null / non_negative / in_set / matches_regex /
# between_dates / unique_key. Adding a kind = one entry in the
# compiler below; suites stay declarative.
# --------------------------------------------------------------------------
ORDERS_EXPECTATIONS = (
    ("orderkey_not_null", "not_null", "o_orderkey", None),
    ("custkey_not_null", "not_null", "o_custkey", None),
    ("price_non_negative", "non_negative", "o_totalprice", None),
    (
        "priority_in_set",
        "in_set",
        "o_orderpriority",
        ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
    ),
    ("status_matches", "matches_regex", "o_orderstatus", "^[FOP]$"),
    ("date_in_range", "between_dates", "o_orderdate", ("1992-01-01", "2001-12-31")),
    ("orderkey_unique", "unique_key", "o_orderkey", None),
)


def _expectation_predicate(kind: str, col: str, params):
    """Compile one rule to a Column predicate (True = row passes)."""
    c = F.col(col)
    if kind == "not_null":
        return c.isNotNull()
    if kind == "non_negative":
        return c >= 0
    if kind == "in_set":
        return c.isin(*params)
    if kind == "matches_regex":
        return c.rlike(params)
    if kind == "between_dates":
        lo, hi = params
        d = c.cast("date")
        return (d >= F.lit(lo).cast("date")) & (d <= F.lit(hi).cast("date"))
    raise ValueError(f"unknown expectation kind: {kind}")


def _expectation_sql(kind: str, col: str, params) -> str:
    if kind == "not_null":
        return f"{col} IS NOT NULL"
    if kind == "non_negative":
        return f"{col} >= 0"
    if kind == "in_set":
        vals = ", ".join(f"'{v}'" for v in params)
        return f"{col} IN ({vals})"
    if kind == "matches_regex":
        return f"regexp_matches({col}, '{params}')"
    if kind == "between_dates":
        lo, hi = params
        return (
            f"CAST({col} AS DATE) >= DATE '{lo}'"
            f" AND CAST({col} AS DATE) <= DATE '{hi}'"
        )
    raise ValueError(kind)


@register(
    "dq_expectation_suite",
    oracle=f"""
    WITH rowrules AS (
      {" UNION ALL ".join(
          f"SELECT '{name}' AS rule_name,"
          f" CAST(count(*) AS BIGINT) AS n_rows,"
          f" CAST(sum(CASE WHEN {_expectation_sql(kind, col, params)}"
          f" THEN 0 ELSE 1 END) AS BIGINT) AS n_violations"
          f" FROM orders"
          for name, kind, col, params in ORDERS_EXPECTATIONS
          if kind != "unique_key"
      )}
    ),
    uniq AS (
      SELECT 'orderkey_unique' AS rule_name,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                 AS n_violations
      FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
    )
    SELECT rule_name, n_rows, n_violations,
           CAST(n_violations = 0 AS BOOLEAN) AS passed
    FROM (SELECT * FROM rowrules UNION ALL SELECT * FROM uniq)
    """,
)
def dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite over orders: row rules compile to
    one conditional-count pass; key-uniqueness adds one grain pass."""
    orders = table(spark, sf_dir, "orders")
    aggs = []
    for name, kind, col, params in ORDERS_EXPECTATIONS:
        if kind == "unique_key":
            continue
        pred = _expectation_predicate(kind, col, params)
        aggs.append(
            F.sum(F.when(pred, 0).otherwise(1))
            .cast("bigint")
            .alias(f"v_{name}")
        )
    one_pass = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"), *aggs
    )
    row_rules = one_pass.select(
        F.expr(
            "stack("
            + str(len(ORDERS_EXPECTATIONS) - 1)
            + ", "
            + ", ".join(
                f"'{name}', v_{name}"
                for name, kind, _, _ in ORDERS_EXPECTATIONS
                if kind != "unique_key"
            )
            + ") AS (rule_name, n_violations)"
        ),
        "n_rows",
    ).select("rule_name", "n_rows", "n_violations")
    grain = orders.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    uniq = grain.agg(
        F.lit("orderkey_unique").alias("rule_name"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_violations"),
    )
    out = row_rules.unionByName(uniq)
    return out.select(
        "rule_name",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


# --------------------------------------------------------------------------
# Candidate-key (primary-key) discovery — for each candidate column
# (set), is ndv == row count? With the duplicate-group count and max
# group size as the violation evidence. The profiling companion to
# dq_functional_dependencies: FDs say which columns DETERMINE others,
# this says which columns can IDENTIFY rows — the first question a
# warehouse loader asks before choosing a merge key.
#
# Scale shape: one distinct-grain aggregate per candidate (map-side-
# combining count per key, then a count of groups) — never a sort;
# candidates run as a UNION ALL of independent small aggregates so
# Spark schedules them concurrently.
# --------------------------------------------------------------------------
_PK_CANDIDATES = (
    ("orders", "o_orderkey", ("o_orderkey",)),
    ("orders", "o_custkey", ("o_custkey",)),
    ("orders", "o_custkey+o_orderdate", ("o_custkey", "o_orderdate")),
    ("lineitem", "l_orderkey", ("l_orderkey",)),
    ("lineitem", "l_orderkey+l_linenumber", ("l_orderkey", "l_linenumber")),
)


def _pk_candidate_sql(tbl: str, name: str, cols: tuple[str, ...]) -> str:
    key = ", ".join(cols)
    return f"""
    SELECT '{tbl}' AS table_name, '{name}' AS candidate,
           (SELECT CAST(count(*) AS BIGINT) FROM {tbl}) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_groups,
           CAST(max(c) AS BIGINT) AS max_group,
           count(*) = (SELECT count(*) FROM {tbl}) AS is_key
    FROM (SELECT {key}, CAST(count(*) AS BIGINT) AS c
          FROM {tbl} GROUP BY {key})"""


@register(
    "dq_pk_discovery",
    oracle=" UNION ALL ".join(
        _pk_candidate_sql(t, n, c) for t, n, c in _PK_CANDIDATES
    ),
)
def dq_pk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit: ndv vs row count, duplicate-group count,
    and max group size per candidate."""
    outs = []
    for tbl, name, cols in _PK_CANDIDATES:
        t = table(spark, sf_dir, tbl)
        grouped = t.groupBy(*cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        # n_rows = sum of group sizes — no second scan of the table.
        # coalesce(…, 0): sum over ZERO groups is NULL, but the oracle
        # derives n_rows from a scalar count(*) subquery which is 0 on
        # an empty table — keep both sides identical off-fixture too.
        agg = grouped.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum((F.col("c") > 1).cast("int")).cast("bigint").alias(
                "dup_groups"
            ),
            F.max("c").cast("bigint").alias("max_group"),
        )
        outs.append(
            agg.select(
                F.lit(tbl).alias("table_name"),
                F.lit(name).alias("candidate"),
                "n_rows",
                "n_distinct",
                "dup_groups",
                "max_group",
                (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


# --------------------------------------------------------------------------
# Referential-integrity orphan audit — for every FK edge of the star
# schema, how many child rows reference a missing parent? The load-
# time gate every warehouse runs between staging and publish; a
# non-zero row here is an upstream extraction bug.
#
# Scale shape: one anti-join per edge — broadcast for dimension
# parents, shuffle hash for the fact-to-fact edge; counts only, no
# row materialization.
# --------------------------------------------------------------------------
_FK_EDGES = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
)


@register(
    "dq_referential_orphans",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{name}' AS fk_edge,
           (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
           CAST(count(*) AS BIGINT) AS n_orphans,
           round(count(*) * 1.0
                 / (SELECT count(*) FROM {child}), 6) AS orphan_rate
    FROM {child} c WHERE NOT EXISTS
      (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})"""
        for name, child, fk, parent, pk in _FK_EDGES
    ),
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphaned-child counts per foreign-key edge of the star schema."""
    outs = []
    for name, child, fk, parent, pk in _FK_EDGES:
        c = table(spark, sf_dir, child)
        # One scan of the child: left join + conditional count instead
        # of a left_anti scan PLUS a separate count scan. Exact because
        # `pk` is the parent's primary key (unique), so the left join
        # never multiplies child rows — the same assumption the
        # oracle's NOT EXISTS encodes.
        pk_rel = table(spark, sf_dir, parent).select(F.col(pk).alias("_pk"))
        if parent in ("nation", "region", "supplier", "part", "customer"):
            pk_rel = F.broadcast(pk_rel)
        matched = c.join(pk_rel, c[fk] == F.col("_pk"), "left")
        agg = matched.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.sum(F.col("_pk").isNull().cast("int"))
            .cast("bigint")
            .alias("n_orphans"),
        )
        outs.append(
            agg.select(
                F.lit(name).alias("fk_edge"),
                "n_child",
                "n_orphans",
                F.round(
                    F.col("n_orphans") * 1.0 / F.col("n_child"), 6
                ).alias("orphan_rate"),
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


# --------------------------------------------------------------------------
# IQR fence outlier audit per market segment — Tukey's 1.5*IQR rule
# on order value: quartiles, fences, and the count/share of rows
# outside them, per segment. The box-plot profiling staple a DQ
# dashboard renders for every numeric column.
#
# Exactness: quartiles interpolate identically cross-engine (Spark
# percentile == DuckDB quantile_cont) and land on exact quarter-cent
# grids; the fences are fixed rational expressions of them, and the
# outlier comparison runs on exact cents — so the counts are integer
# facts, not float-boundary coin flips.
# --------------------------------------------------------------------------
@register(
    "dq_iqr_outlier_audit",
    oracle="""
    WITH base AS (
      SELECT c_mktsegment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    q AS (
      SELECT c_mktsegment,
             quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.75) AS q3
      FROM base GROUP BY 1
    )
    SELECT b.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(q.q1 / 100.0, 4) AS q1_usd,
           round(q.q3 / 100.0, 4) AS q3_usd,
           CAST(sum(CASE WHEN b.cents < q.q1 - 1.5 * (q.q3 - q.q1)
                          OR b.cents > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(sum(CASE WHEN b.cents < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR b.cents > q.q3 + 1.5 * (q.q3 - q.q1)
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
               AS outlier_share
    FROM base b JOIN q USING (c_mktsegment)
    GROUP BY b.c_mktsegment, q.q1, q.q3
    """,
)
def dq_iqr_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey 1.5*IQR outlier counts and share of order value per
    market segment."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    q = base.groupBy("c_mktsegment").agg(
        F.percentile("cents", F.lit(0.25)).alias("q1"),
        F.percentile("cents", F.lit(0.75)).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    is_out = (F.col("cents") < lo) | (F.col("cents") > hi)
    return (
        base.join(F.broadcast(q), "c_mktsegment")
        .groupBy("c_mktsegment", "q1", "q3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(is_out.cast("int")).cast("bigint").alias("n_outliers"),
            F.round(
                F.sum(is_out.cast("int")) * 1.0 / F.count(F.lit(1)), 6
            ).alias("outlier_share"),
        )
        .select(
            "c_mktsegment",
            "n_orders",
            F.round(F.col("q1") / 100.0, 4).alias("q1_usd"),
            F.round(F.col("q3") / 100.0, 4).alias("q3_usd"),
            "n_outliers",
            "outlier_share",
        )
    )


# --------------------------------------------------------------------------
# Benford SECOND-digit test — the forensic-accounting follow-up to
# dq_benford_price: fabricated or policy-priced values that pass the
# first-digit screen usually fail the flatter second-digit law
#   P(d2) = sum over d1 in 1..9 of log10(1 + 1/(10*d1 + d2)).
# The ten expected masses are mathematical constants, baked as
# literals into BOTH engines (no runtime transcendental), so the only
# data-dependent arithmetic is integer counting. String-sliced digit
# extraction avoids any float-log grouping key, same as the
# first-digit test. One groupBy over orders — fact-linear, map-side
# combinable.
# --------------------------------------------------------------------------
_BENFORD2 = {
    "0": 0.119679, "1": 0.11389, "2": 0.108821, "3": 0.10433,
    "4": 0.100308, "5": 0.096677, "6": 0.093375, "7": 0.090352,
    "8": 0.08757, "9": 0.084997,
}


@register(
    "dq_benford_second_digit",
    oracle=f"""
    WITH digits AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 2, 1)
               AS digit,
             count(*) AS n
      FROM orders WHERE o_totalprice >= 10
      GROUP BY 1
    ),
    expected(digit, benford_frac) AS (VALUES
      {", ".join(f"('{d}', {p})" for d, p in _BENFORD2.items())}
    ),
    total AS (SELECT sum(n) AS t FROM digits)
    SELECT d.digit, d.n,
           round(CAST(d.n AS DOUBLE) / t, 6) AS obs_frac,
           e.benford_frac,
           round(abs(CAST(d.n AS DOUBLE) / t - e.benford_frac), 6) AS abs_dev
    FROM digits d JOIN expected e USING (digit), total
    """,
)
def dq_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-significant-digit distribution of order totals vs the
    Benford second-digit law (expected masses baked as literals)."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 10)
    digits = orders.groupBy(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 2, 1
        ).alias("digit")
    ).agg(F.count(F.lit(1)).alias("n"))
    expected = local_frame(
        spark, list(_BENFORD2.items()), "digit string, benford_frac double"
    )
    total = digits.agg(F.sum("n").alias("t"))
    return (
        digits.join(F.broadcast(expected), "digit")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias(
                "obs_frac"
            ),
            F.round(F.col("benford_frac"), 6).alias("benford_frac"),
            F.round(
                F.abs(
                    F.col("n").cast("double") / F.col("t")
                    - F.col("benford_frac")
                ),
                6,
            ).alias("abs_dev"),
        )
    )


# --------------------------------------------------------------------------
# Price-ending (psychological pricing / round-number) bias audit — the
# trailing-cents companion to the leading-digit tests: the
# distribution of cents endings (price mod 1.00), flagging the
# charm/round points (.00 .50 .95 .99). Exact integer cents, ppm
# shares by floor division, deterministic top-20. Detects both
# human-set price points and fabricated uniform tails in one pass.
# --------------------------------------------------------------------------
PRICE_ENDING_TOP = 20
_PSYCH_ENDINGS = (0, 50, 95, 99)


@register(
    "dq_price_ending_bias",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS ending
      FROM orders
    ),
    hist AS (SELECT ending, CAST(count(*) AS BIGINT) AS n FROM cents GROUP BY 1),
    total AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM hist)
    SELECT CAST(ending AS INTEGER) AS ending, n,
           n * 1000000 // t AS share_ppm,
           CASE WHEN ending IN {_PSYCH_ENDINGS} THEN 1 ELSE 0 END AS is_psych
    FROM hist, total
    ORDER BY n DESC, ending
    LIMIT {PRICE_ENDING_TOP}
    """,
)
def dq_price_ending_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PRICE_ENDING_TOP} cents endings of order totals with ppm
    share and psychological-price-point flags."""
    orders = table(spark, sf_dir, "orders")
    hist = orders.select(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") % 100).alias(
            "ending"
        )
    ).groupBy("ending").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    total = hist.agg(F.sum("n").cast("bigint").alias("t"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            F.col("ending").cast("int").alias("ending"),
            "n",
            F.expr("n * CAST(1000000 AS BIGINT) DIV t").alias("share_ppm"),
            F.when(F.col("ending").isin(*_PSYCH_ENDINGS), 1)
            .otherwise(0)
            .alias("is_psych"),
        )
        .orderBy(F.desc("n"), "ending")
        .limit(PRICE_ENDING_TOP)
    )


# --------------------------------------------------------------------------
# Schema fingerprint — the cross-table profiling audit a warehouse
# migration diffs against: per (table, column) row count, null count
# (exact ppm) and exact distinct cardinality for the two core
# relational tables. One aggregation pass per table (count distinct
# columns share the scan); unioned into a single dimension-sized
# fingerprint relation with a stable column order.
# --------------------------------------------------------------------------
_FP_TABLES = {
    "orders": (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    ),
    "customer": (
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    ),
}


def _fp_oracle() -> str:
    parts = []
    for t, cols in _FP_TABLES.items():
        for c in cols:
            parts.append(f"""
    SELECT '{t}' AS table_name, '{c}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           (count(*) - count({c})) * 1000000 // count(*) AS null_ppm,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM {t}""")
    return " UNION ALL ".join(parts)


@register("dq_schema_fingerprint", oracle=_fp_oracle())
def dq_schema_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column fingerprint (rows, nulls ppm, exact distinct) for the
    core relational tables — one pruned single-column aggregation branch
    per (table, column), unioned."""
    # One branch per (table, column), each aggregating ONLY its own
    # column: column pruning makes every branch scan just that column,
    # so the union reads ~the same bytes as one all-column pass, each
    # branch plans as a codegen single-distinct agg (no Expand), and
    # independent branches schedule concurrently. (A fused per-table
    # multi-distinct agg read out per column re-executes the all-column
    # aggregation len(cols) times; a single explode reference fixes
    # that but plans the multi-distinct as a SortAggregate Expand —
    # both measured slower at sf0.1.)
    outs = []
    for t, cols in _FP_TABLES.items():
        df = table(spark, sf_dir, t)
        for c in cols:
            cell = df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(
                    "n_null"
                ),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
            )
            outs.append(
                cell.select(
                    F.lit(t).alias("table_name"),
                    F.lit(c).alias("column_name"),
                    "n_rows",
                    "n_null",
                    F.expr(
                        "n_null * CAST(1000000 AS BIGINT) DIV n_rows"
                    ).alias("null_ppm"),
                    "n_distinct",
                )
            )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


# --------------------------------------------------------------------------
# Key-space density audit — the zonemap/partition-planning statistic:
# how densely the o_orderkey space is populated per fixed-width id
# block (4096 keys). Sparse or empty blocks mean min/max zonemaps and
# id-range partition pruning work; a skewed density histogram predicts
# stragglers in id-range scans. Pure integer arithmetic, one groupBy
# over orders, dimension-sized density-histogram output.
# --------------------------------------------------------------------------
ID_BLOCK = 4096


@register(
    "dq_id_density_audit",
    oracle=f"""
    WITH blocks AS (
      SELECT o_orderkey // {ID_BLOCK} AS block,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    span AS (
      SELECT CAST(min(o_orderkey) AS BIGINT) AS min_key,
             CAST(max(o_orderkey) AS BIGINT) AS max_key,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders
    ),
    hist AS (
      SELECT n AS keys_in_block, CAST(count(*) AS BIGINT) AS n_blocks
      FROM blocks GROUP BY n
    )
    SELECT h.keys_in_block, h.n_blocks,
           s.min_key, s.max_key, s.n_rows,
           s.n_rows * 1000000 // (s.max_key - s.min_key + 1)
               AS overall_density_ppm
    FROM hist h CROSS JOIN span s
    """,
)
def dq_id_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """o_orderkey space density per {ID_BLOCK}-key block (histogram of
    block occupancies) plus overall key-space fill ppm."""
    orders = table(spark, sf_dir, "orders")
    blocks = orders.groupBy(
        F.expr(f"o_orderkey DIV {ID_BLOCK}").alias("block")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    span = orders.agg(
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    hist = blocks.groupBy(F.col("n").alias("keys_in_block")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks")
    )
    return hist.crossJoin(F.broadcast(span)).select(
        "keys_in_block",
        "n_blocks",
        "min_key",
        "max_key",
        "n_rows",
        F.expr(
            "n_rows * CAST(1000000 AS BIGINT) DIV (max_key - min_key + 1)"
        ).alias("overall_density_ppm"),
    )


# --------------------------------------------------------------------------
# Missingness/defect pattern mining over the messy-orders fixture —
# the DQ triage table: which COMBINATIONS of defects co-occur
# (NULL name, NULL quantity, invalid email, negative price, mangled
# id), not just the per-field rates the field profile reports.
# Pattern = 5-char flag string; one conditional-expression pass, one
# dimension-sized rollup; shares in exact ppm.
# --------------------------------------------------------------------------
from .orders_base import MESSY_ORDERS_CTE as _MESSY_CTE
from .orders_base import BASE_ORDERS_CTE as _BASE_CTE
from .orders_base import messy_orders as _messy_orders


@register(
    "dq_null_pattern_mining",
    oracle=f"""
    WITH {_BASE_CTE}, {_MESSY_CTE},
    flags AS (
      SELECT concat(
               CASE WHEN customer_name IS NULL THEN '1' ELSE '0' END,
               CASE WHEN quantity IS NULL THEN '1' ELSE '0' END,
               CASE WHEN customer_email = 'invalid-email'
                    THEN '1' ELSE '0' END,
               CASE WHEN price < 0 THEN '1' ELSE '0' END,
               CASE WHEN order_id <> upper(order_id) THEN '1' ELSE '0' END
             ) AS pattern
      FROM messy
    ),
    hist AS (
      SELECT pattern, CAST(count(*) AS BIGINT) AS n FROM flags GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM hist)
    SELECT pattern, n,
           n * 1000000 // t AS share_ppm,
           CAST(length(replace(pattern, '0', '')) AS INTEGER) AS n_defects
    FROM hist CROSS JOIN tot
    """,
)
def dq_null_pattern_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Defect co-occurrence patterns (name/quantity/email/price/id
    flags) over messy orders, with exact ppm shares."""
    m = _messy_orders(spark, sf_dir)
    pattern = F.concat(
        F.when(F.col("customer_name").isNull(), "1").otherwise("0"),
        F.when(F.col("quantity").isNull(), "1").otherwise("0"),
        F.when(F.col("customer_email") == "invalid-email", "1").otherwise("0"),
        F.when(F.col("price") < 0, "1").otherwise("0"),
        F.when(F.col("order_id") != F.upper(F.col("order_id")), "1").otherwise(
            "0"
        ),
    )
    hist = m.select(pattern.alias("pattern")).groupBy("pattern").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = hist.agg(F.sum("n").cast("bigint").alias("t"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "pattern",
        "n",
        F.expr("n * CAST(1000000 AS BIGINT) DIV t").alias("share_ppm"),
        F.length(F.regexp_replace("pattern", "0", ""))
        .cast("int")
        .alias("n_defects"),
    )


# --------------------------------------------------------------------------
# Email-domain distribution — the ingestion-surface audit over the
# reference-shaped order feed (base_orders synthesizes emails the way
# the reference's API mapper does): domain share per source, catching
# a feed that suddenly ships one domain (a classic upstream bug).
# Exact counts + ppm; split_part string surgery shared cross-engine.
# --------------------------------------------------------------------------
from .orders_base import BASE_ORDERS_CTE as _BO_CTE
from .orders_base import base_orders as _base_orders


@register(
    "dq_email_domain_distribution",
    oracle=f"""
    WITH {_BO_CTE},
    d AS (
      SELECT source, split_part(customer_email, '@', 2) AS domain
      FROM base
    ),
    cells AS (
      SELECT source, domain, CAST(count(*) AS BIGINT) AS n
      FROM d GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY source
    )
    SELECT c.source, c.domain, c.n,
           c.n * 1000000 // t.t AS share_ppm
    FROM cells c JOIN tot t USING (source)
    """,
)
def dq_email_domain_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email-domain share per ingestion source over the synthesized
    order feed (exact ppm)."""
    b = _base_orders(spark, sf_dir)
    d = b.select(
        "source",
        F.split_part(F.col("customer_email"), F.lit("@"), F.lit(2)).alias(
            "domain"
        ),
    )
    cells = d.groupBy("source", "domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cells.groupBy("source").agg(F.sum("n").cast("bigint").alias("t"))
    return cells.join(F.broadcast(tot), "source").select(
        "source",
        "domain",
        "n",
        F.expr("n * CAST(1000000 AS BIGINT) DIV t").alias("share_ppm"),
    )
