"""Oracle-checked queries for the quality engine (A1-A7).

`q_quality_scores_messy` runs the single-pass scoring engine on the
corrupted orders variant and compares every score against a DuckDB
re-derivation of the same formulas — the strongest possible check that
the one-agg-pass compilation preserved the reference's semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..quality.metrics import field_profile, quality_scores_df
from ..registry import register
from ..session import local_frame
from .orders_base import BASE_ORDERS_CTE, MESSY_ORDERS_CTE, messy_orders

_ORDER_ID_RE = "^[A-Z]{3}-[0-9]{4}$|^API-[0-9]{4}$"
_EMAIL_RE = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"

_STRING_COLS = ("order_id", "customer_name", "customer_email", "product", "source")
_ALL_COLS = (
    "order_id",
    "customer_name",
    "customer_email",
    "product",
    "quantity",
    "price",
    "discount",
    "total_amount",
    "order_date",
    "source",
)

_COMPLETENESS = " + ".join(f"CAST(count({c}) AS DOUBLE) / count(*)" for c in _ALL_COLS)
_LEN_STATS = ", ".join(
    f"avg(length({c})) AS la_{c}, stddev(length({c})) AS ls_{c}" for c in _STRING_COLS
)
_CV_PARTS = " + ".join(
    f"least(1.0, greatest(0.0, CASE WHEN la_{c} > 0 THEN 1 - ls_{c} / la_{c} ELSE 1.0 END))"
    for c in _STRING_COLS
)

_QUALITY_SQL = f"""
WITH {BASE_ORDERS_CTE}, {MESSY_ORDERS_CTE},
stats AS (
  SELECT count(*) AS n,
         ({_COMPLETENESS}) / {len(_ALL_COLS)} * 100 AS completeness,
         avg(CASE WHEN regexp_matches(order_id, '{_ORDER_ID_RE}') THEN 1 ELSE 0 END) AS v_order_id,
         avg(CASE WHEN regexp_matches(customer_email, '{_EMAIL_RE}') THEN 1 ELSE 0 END) AS v_email,
         avg(CASE WHEN quantity > 0 THEN 1 ELSE 0 END) AS v_quantity,
         avg(CASE WHEN price > 0 THEN 1 ELSE 0 END) AS v_price,
         avg(CASE WHEN total_amount > 0 THEN 1 ELSE 0 END) AS v_total,
         avg(CASE WHEN order_date IS NOT NULL THEN 1 ELSE 0 END) AS v_date,
         CAST(count(DISTINCT order_id) AS DOUBLE) / count(*) AS uniq_ratio,
         avg(CASE WHEN abs(price * quantity - total_amount)
                       <= 1e-8 + 0.01 * abs(total_amount) THEN 1 ELSE 0 END) AS c_close,
         {_LEN_STATS},
         avg(CASE WHEN price >= 1 AND price <= 10000 THEN 1 ELSE 0 END) AS a_price,
         avg(CASE WHEN quantity >= 1 AND quantity <= 100 THEN 1 ELSE 0 END) AS a_quantity,
         avg(CASE WHEN length(customer_name) >= 2 AND length(customer_name) <= 100
                  THEN 1 ELSE 0 END) AS a_name,
         avg(CASE WHEN length(product) >= 2 AND length(product) <= 200
                  THEN 1 ELSE 0 END) AS a_product,
         avg(CASE WHEN order_date >= current_date - 1825 AND order_date <= current_date
                  THEN 1 ELSE 0 END) AS a_date,
         sum(CASE WHEN order_id IS NOT NULL AND customer_name IS NOT NULL
                   AND product IS NOT NULL AND quantity IS NOT NULL
                   AND price IS NOT NULL AND order_date IS NOT NULL
                   AND price > 0 AND quantity > 0 THEN 1 ELSE 0 END) AS n_valid
  FROM messy
),
scored AS (
  SELECT n, n_valid,
         least(100.0, greatest(0.0, completeness)) AS comp,
         least(100.0, greatest(0.0,
           (v_order_id + v_email + v_quantity + v_price + v_total + v_date) / 6 * 100)) AS val,
         least(100.0, greatest(0.0,
           (uniq_ratio + c_close + {_CV_PARTS}) / {2 + len(_STRING_COLS)} * 100)) AS cons,
         least(100.0, greatest(0.0,
           (a_price + a_quantity + a_name + a_product + a_date) / 5 * 100)) AS acc
  FROM stats
)
SELECT round(comp, 6) AS completeness_score,
       round(val, 6) AS validity_score,
       round(cons, 6) AS consistency_score,
       round(acc, 6) AS accuracy_score,
       round(comp * 0.3 + val * 0.3 + cons * 0.2 + acc * 0.2, 6) AS overall_score,
       CASE WHEN comp * 0.3 + val * 0.3 + cons * 0.2 + acc * 0.2 >= 95 THEN 'excellent'
            WHEN comp * 0.3 + val * 0.3 + cons * 0.2 + acc * 0.2 >= 85 THEN 'good'
            WHEN comp * 0.3 + val * 0.3 + cons * 0.2 + acc * 0.2 >= 70 THEN 'fair'
            WHEN comp * 0.3 + val * 0.3 + cons * 0.2 + acc * 0.2 >= 50 THEN 'poor'
            ELSE 'critical' END AS quality_level,
       n AS total_records,
       CAST(n_valid AS BIGINT) AS valid_records,
       CAST(n - n_valid AS BIGINT) AS invalid_records
FROM scored
"""


@register("q_quality_scores_messy", oracle=_QUALITY_SQL)
def q_quality_scores_messy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass weighted quality scores over the corrupted orders."""
    return quality_scores_df(messy_orders(spark, sf_dir))


# (column, kind, Spark simpleString dtype): kind n=numeric, s=string,
# t=temporal. The dtype literals in the oracle double as a schema
# assertion — if the messy projection's types drift, the hash flips.
_FULL_PROFILE_COLS = (
    ("order_id", "s", "string"),
    ("customer_name", "s", "string"),
    ("customer_email", "s", "string"),
    ("product", "s", "string"),
    ("quantity", "n", "bigint"),
    ("price", "n", "double"),
    ("discount", "n", "double"),
    ("total_amount", "n", "double"),
    ("order_date", "t", "timestamp_ntz"),
    ("source", "s", "string"),
)


def _full_profile_branch_sql(col: str, kind: str, dtype: str) -> str:
    if kind == "n":
        typed = (
            f"round(min(CAST({col} AS DOUBLE)), 6) AS min_value, "
            f"round(max(CAST({col} AS DOUBLE)), 6) AS max_value, "
            f"round(avg(CAST({col} AS DOUBLE)), 6) AS mean_value, "
            f"round(stddev(CAST({col} AS DOUBLE)), 6) AS std_value, "
            "CAST(NULL AS DOUBLE) AS avg_length, CAST(NULL AS DOUBLE) AS max_length"
        )
    elif kind == "s":
        typed = (
            "CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value, "
            "CAST(NULL AS DOUBLE) AS mean_value, CAST(NULL AS DOUBLE) AS std_value, "
            f"round(avg(length({col})), 6) AS avg_length, "
            f"CAST(max(length({col})) AS DOUBLE) AS max_length"
        )
    else:
        typed = (
            "CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value, "
            "CAST(NULL AS DOUBLE) AS mean_value, CAST(NULL AS DOUBLE) AS std_value, "
            "CAST(NULL AS DOUBLE) AS avg_length, CAST(NULL AS DOUBLE) AS max_length"
        )
    return (
        f"SELECT '{col}' AS \"column\", '{dtype}' AS dtype, "
        f"CAST(count(*) - count({col}) AS BIGINT) AS null_count, "
        f"round(100.0 * (count(*) - count({col})) / count(*), 6) AS null_pct, "
        f"CAST(count(DISTINCT {col}) AS BIGINT) AS distinct_count, {typed}, "
        f"(CAST(count(*) - count({col}) AS DOUBLE) / count(*)) > 0.10 AS high_null_flag "
        "FROM messy"
    )


@register(
    "q_field_profile_messy",
    oracle="WITH "
    + BASE_ORDERS_CTE
    + ", "
    + MESSY_ORDERS_CTE
    + " "
    + " UNION ALL ".join(
        _full_profile_branch_sql(c, k, d) for c, k, d in _FULL_PROFILE_COLS
    ),
)
def q_field_profile_messy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 per-column profile, fully value-checked: dtype, null
    count/pct, distinct count, numeric min/max/mean/std, string
    avg/max length, >10%-null flag (src/validation.py:284-326)."""
    return field_profile(messy_orders(spark, sf_dir))


# ---------------------------------------------------------------------------
# A7 field profile as a value-checked long-format query (the dtype-bearing
# variant above stays rows-only; this one is engine-neutral).
# ---------------------------------------------------------------------------
_PROFILE_COLS = {
    "order_id": "s",
    "customer_name": "s",
    "customer_email": "s",
    "product": "s",
    "quantity": "n",
    "price": "n",
    "discount": "n",
    "total_amount": "n",
    "source": "s",
}


def _profile_branch_sql(col: str, kind: str) -> str:
    if kind == "n":
        typed = (
            f"round(min(CAST({col} AS DOUBLE)), 6) AS min_value, "
            f"round(max(CAST({col} AS DOUBLE)), 6) AS max_value, "
            f"round(avg(CAST({col} AS DOUBLE)), 6) AS mean_value, "
            "CAST(NULL AS DOUBLE) AS avg_length"
        )
    else:
        typed = (
            "CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value, "
            "CAST(NULL AS DOUBLE) AS mean_value, "
            f"round(avg(length({col})), 6) AS avg_length"
        )
    return (
        f"SELECT '{col}' AS column_name, "
        f"CAST(count(*) - count({col}) AS BIGINT) AS null_count, "
        f"CAST(count(DISTINCT {col}) AS BIGINT) AS distinct_count, {typed} FROM messy"
    )


@register(
    "q_profile_stats_messy",
    oracle="WITH "
    + BASE_ORDERS_CTE
    + ", "
    + MESSY_ORDERS_CTE
    + " "
    + " UNION ALL ".join(_profile_branch_sql(c, k) for c, k in _PROFILE_COLS.items()),
)
def q_profile_stats_messy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format per-column profile (null/distinct counts, numeric
    min/max/mean, string avg length) — one agg pass, assembled into one
    row per column."""
    from pyspark.sql import functions as F

    df = messy_orders(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("n")]
    for col, kind in _PROFILE_COLS.items():
        aggs.append(F.count(F.col(col)).alias(f"nn::{col}"))
        aggs.append(F.countDistinct(F.col(col)).alias(f"nd::{col}"))
        if kind == "n":
            aggs.append(F.round(F.min(F.col(col).cast("double")), 6).alias(f"min::{col}"))
            aggs.append(F.round(F.max(F.col(col).cast("double")), 6).alias(f"max::{col}"))
            aggs.append(F.round(F.avg(F.col(col).cast("double")), 6).alias(f"mean::{col}"))
        else:
            aggs.append(F.round(F.avg(F.length(F.col(col))), 6).alias(f"len::{col}"))
    row = df.agg(*aggs).first()

    got = row.asDict()
    rows = [
        (
            col,
            int(got["n"] - got[f"nn::{col}"]),
            int(got[f"nd::{col}"]),
            got.get(f"min::{col}"),
            got.get(f"max::{col}"),
            got.get(f"mean::{col}"),
            got.get(f"len::{col}"),
        )
        for col in _PROFILE_COLS
    ]
    return local_frame(
        spark,
        rows,
        "column_name string, null_count bigint, distinct_count bigint, "
        "min_value double, max_value double, mean_value double, avg_length double",
    )
