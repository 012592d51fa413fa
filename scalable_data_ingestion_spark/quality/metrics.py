"""Single-pass data-quality scoring (SURVEY.md §2.4 A1-A7).

Reference: DataQualityValidator (src/validation.py:28-282) computes
completeness/validity/consistency/accuracy with dozens of sequential
full-column pandas passes plus an iterrows() loop. Here the entire
score family compiles into ONE ``df.agg(...)`` — a single job, one scan
of the data, partial aggregation on every partition (SURVEY.md §4.2
"single-pass quality scoring"). At 100 TB that is the difference
between one streaming pass and dozens.

Score semantics mirrored exactly:
- completeness (:103-112): non-null cells / total cells * 100.
- validity (:114-154): mean of per-field checks — order_id regex,
  email regex, numeric>0 for quantity/price/total_amount, parseable
  date; NULL -> failed check.
- consistency (:156-191): order_id uniqueness ratio; isclose(price*qty,
  total, rtol=1%, atol=1e-8) share; per-string-column length
  coefficient-of-variation 1 - std/mean clamped to [0,1].
- accuracy (:193-237): price in [1,10000], qty in [1,100], name len
  [2,100], product len [2,200], order_date within (today-1825d, today].
- overall (:64-69): 0.3/0.3/0.2/0.2 weights; level banding (:239-250)
  excellent>=95 / good>=85 / fair>=70 / poor>=50 / critical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import valid_email_expr, valid_order_id_expr
from ..session import local_frame

QUALITY_WEIGHTS = {
    "completeness": 0.3,
    "validity": 0.3,
    "consistency": 0.2,
    "accuracy": 0.2,
}

REQUIRED_FIELDS = (
    "order_id",
    "customer_name",
    "product",
    "quantity",
    "price",
    "order_date",
)

STRING_COLS = ("order_id", "customer_name", "customer_email", "product", "source")
POSITIVE_NUMERIC_COLS = ("quantity", "price", "total_amount")


def _clamp01(c: Column) -> Column:
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), c))


def _clamp100(c: Column) -> Column:
    return F.least(F.lit(100.0), F.greatest(F.lit(0.0), c))


def _bool_mean(c: Column) -> Column:
    """mean of a boolean check with NULL counted as False (pandas
    na=False / NaN-comparison semantics)."""
    return F.avg(F.coalesce(c, F.lit(False)).cast("int"))


def _agg_exprs(df: DataFrame) -> dict[str, Column]:
    """All statistics for A1-A6 as a single agg expression map."""
    cols = df.columns
    exprs: dict[str, Column] = {"n_rows": F.count(F.lit(1))}

    # A1 completeness: per-column non-null counts.
    for c in cols:
        exprs[f"nn_{c}"] = F.count(F.col(c))

    # A2 validity.
    if "order_id" in cols:
        exprs["v_order_id"] = _bool_mean(valid_order_id_expr("order_id"))
    if "customer_email" in cols:
        exprs["v_email"] = _bool_mean(valid_email_expr("customer_email"))
    for c in POSITIVE_NUMERIC_COLS:
        if c in cols:
            num = F.col(c).try_cast("double")
            exprs[f"v_{c}"] = _bool_mean(num.isNotNull() & (num > 0))
    if "order_date" in cols:
        exprs["v_date"] = _bool_mean(F.col("order_date").try_cast("date").isNotNull())

    # A3 consistency.
    if "order_id" in cols:
        exprs["n_distinct_order_id"] = F.countDistinct("order_id")
    if all(c in cols for c in ("price", "quantity", "total_amount")):
        calc = F.col("price").try_cast("double") * F.col("quantity").try_cast("double")
        actual = F.col("total_amount").try_cast("double")
        # np.isclose(a, b): |a-b| <= atol + rtol*|b| with atol=1e-8, rtol=0.01
        close = F.abs(calc - actual) <= (F.lit(1e-8) + 0.01 * F.abs(actual))
        exprs["c_totals_close"] = _bool_mean(close)
    for c in STRING_COLS:
        if c in cols:
            exprs[f"len_avg_{c}"] = F.avg(F.length(F.col(c)))
            exprs[f"len_std_{c}"] = F.stddev(F.length(F.col(c)))

    # A4 accuracy.
    if "price" in cols:
        p = F.col("price").try_cast("double")
        exprs["a_price"] = _bool_mean((p >= 1) & (p <= 10000))
    if "quantity" in cols:
        q = F.col("quantity").try_cast("double")
        exprs["a_quantity"] = _bool_mean((q >= 1) & (q <= 100))
    if "customer_name" in cols:
        ln = F.length(F.col("customer_name"))
        exprs["a_name"] = _bool_mean((ln >= 2) & (ln <= 100))
    if "product" in cols:
        ln = F.length(F.col("product"))
        exprs["a_product"] = _bool_mean((ln >= 2) & (ln <= 200))
    if "order_date" in cols:
        d = F.col("order_date").try_cast("date")
        exprs["a_date"] = _bool_mean(
            (d >= F.date_sub(F.current_date(), 1825)) & (d <= F.current_date())
        )

    # A6 record-level validity (replaces the reference's iterrows loop
    # with one boolean conjunction column).
    exprs["n_valid_records"] = F.sum(
        F.coalesce(record_valid_expr(cols), F.lit(False)).cast("long")
    )

    return exprs


def record_valid_expr(cols: list[str]) -> Column:
    """A6 validity as one boolean conjunction column (shared by the
    aggregate pass and the observe() side-channel)."""
    valid = F.lit(True)
    for c in REQUIRED_FIELDS:
        if c in cols:
            valid = valid & F.col(c).isNotNull()
    if "price" in cols:
        valid = valid & (F.col("price").try_cast("double") > 0)
    if "quantity" in cols:
        valid = valid & (F.col("quantity").try_cast("double") > 0)
    return valid


def _mean_of(cols: list[Column]) -> Column:
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    return total / F.lit(len(cols))


def _scores_from_stats(stats: DataFrame, cols: list[str]) -> DataFrame:
    """Derive the four scores + overall + counts from the one-row stats
    frame — still a DataFrame (SQL-expressible), no driver math."""
    n = F.col("n_rows")

    completeness = _clamp100(
        _mean_of([F.col(f"nn_{c}") / n for c in cols]) * 100.0
    )

    validity_parts = [
        F.col(name)
        for name in (
            "v_order_id",
            "v_email",
            "v_quantity",
            "v_price",
            "v_total_amount",
            "v_date",
        )
        if name in stats.columns
    ]
    validity = _clamp100(_mean_of(validity_parts) * 100.0) if validity_parts else F.lit(100.0)

    consistency_parts: list[Column] = []
    if "n_distinct_order_id" in stats.columns:
        consistency_parts.append(F.col("n_distinct_order_id") / n)
    if "c_totals_close" in stats.columns:
        consistency_parts.append(F.col("c_totals_close"))
    for c in STRING_COLS:
        if f"len_avg_{c}" in stats.columns:
            cv = _clamp01(
                F.when(
                    F.col(f"len_avg_{c}") > 0,
                    1 - F.col(f"len_std_{c}") / F.col(f"len_avg_{c}"),
                ).otherwise(F.lit(1.0))
            )
            consistency_parts.append(cv)
    consistency = (
        _clamp100(_mean_of(consistency_parts) * 100.0) if consistency_parts else F.lit(100.0)
    )

    accuracy_parts = [
        F.col(name)
        for name in ("a_price", "a_quantity", "a_name", "a_product", "a_date")
        if name in stats.columns
    ]
    accuracy = _clamp100(_mean_of(accuracy_parts) * 100.0) if accuracy_parts else F.lit(100.0)

    overall = (
        completeness * QUALITY_WEIGHTS["completeness"]
        + validity * QUALITY_WEIGHTS["validity"]
        + consistency * QUALITY_WEIGHTS["consistency"]
        + accuracy * QUALITY_WEIGHTS["accuracy"]
    )

    return stats.select(
        F.round(completeness, 6).alias("completeness_score"),
        F.round(validity, 6).alias("validity_score"),
        F.round(consistency, 6).alias("consistency_score"),
        F.round(accuracy, 6).alias("accuracy_score"),
        F.round(overall, 6).alias("overall_score"),
        quality_level_expr(overall).alias("quality_level"),
        F.col("n_rows").alias("total_records"),
        F.col("n_valid_records").cast("bigint").alias("valid_records"),
        (F.col("n_rows") - F.col("n_valid_records")).cast("bigint").alias("invalid_records"),
    )


def quality_level_expr(score: Column) -> Column:
    """Level banding (src/validation.py:239-250)."""
    return (
        F.when(score >= 95, "excellent")
        .when(score >= 85, "good")
        .when(score >= 70, "fair")
        .when(score >= 50, "poor")
        .otherwise("critical")
    )


def quality_scores_df(df: DataFrame) -> DataFrame:
    """One-row DataFrame with all scores — exactly ONE aggregation job."""
    exprs = _agg_exprs(df)
    stats = df.agg(*[e.alias(name) for name, e in exprs.items()])
    return _scores_from_stats(stats, df.columns)


def quality_scores(df: DataFrame) -> dict:
    """Collected dict form for the pipeline orchestrator."""
    row: Row = quality_scores_df(df).first()
    return row.asDict()


def record_quality_counts(df: DataFrame) -> tuple[int, int]:
    """A6 valid/invalid record counts (src/validation.py:252-282)."""
    row = quality_scores_df(df).select("valid_records", "invalid_records").first()
    return int(row["valid_records"]), int(row["invalid_records"])


def attach_quality_observation(df: DataFrame):
    """A6 counts as a ZERO-COST side-channel: ``df.observe`` computes
    row/valid/invalid counts inside whatever action the caller runs
    anyway (the ingest write, an export), so pipeline-health metrics
    cost no second scan — at 100 TB the difference between monitoring
    for free and re-reading the table. Returns ``(observed_df,
    Observation)``; read ``observation.get`` AFTER the first action on
    the returned frame (it blocks until one completes). Values match
    ``record_quality_counts`` exactly (same validity conjunction,
    pytest-locked in tests/test_pipeline_stages.py)."""
    from pyspark.sql import Observation

    obs = Observation("quality_counts")
    valid = F.coalesce(record_valid_expr(df.columns), F.lit(False))
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(valid.cast("long")).alias("valid_records"),
        F.sum((~valid).cast("long")).alias("invalid_records"),
    )
    return observed, obs


_PROFILE_SCHEMA = (
    "column string, dtype string, null_count bigint, null_pct double, "
    "distinct_count bigint, min_value double, max_value double, "
    "mean_value double, std_value double, avg_length double, "
    "max_length double, high_null_flag boolean"
)


def field_profile(df: DataFrame) -> DataFrame:
    """A7 per-column profile (src/validation.py:284-326): dtype, null
    count/%, distinct count/%, min/max/mean/std for numerics, avg/max
    length for strings — one agg pass, long-format output."""
    import pyspark.sql.types as T

    n = df.count()
    exprs: list[Column] = []
    for field in df.schema.fields:
        c = F.col(field.name)
        is_num = isinstance(field.dataType, (T.NumericType,))
        exprs.extend(
            [
                F.count(c).alias(f"nn::{field.name}"),
                F.countDistinct(c).alias(f"nd::{field.name}"),
                (F.round(F.min(c.try_cast("double")), 6) if is_num else F.lit(None).cast("double")).alias(f"min::{field.name}"),
                (F.round(F.max(c.try_cast("double")), 6) if is_num else F.lit(None).cast("double")).alias(f"max::{field.name}"),
                (F.round(F.avg(c.try_cast("double")), 6) if is_num else F.lit(None).cast("double")).alias(f"mean::{field.name}"),
                (F.round(F.stddev(c.try_cast("double")), 6) if is_num else F.lit(None).cast("double")).alias(f"std::{field.name}"),
                (F.round(F.avg(F.length(c)), 6) if isinstance(field.dataType, T.StringType) else F.lit(None).cast("double")).alias(f"avglen::{field.name}"),
                (F.max(F.length(c)).cast("double") if isinstance(field.dataType, T.StringType) else F.lit(None).cast("double")).alias(f"maxlen::{field.name}"),
            ]
        )
    row = df.agg(*exprs).first()

    rows = []
    for field in df.schema.fields:
        name = field.name
        nn = row[f"nn::{name}"]
        rows.append(
            (
                name,
                field.dataType.simpleString(),
                int(n - nn),
                (100.0 * (n - nn) / n) if n else 0.0,
                int(row[f"nd::{name}"]),
                row[f"min::{name}"],
                row[f"max::{name}"],
                row[f"mean::{name}"],
                row[f"std::{name}"],
                row[f"avglen::{name}"],
                row[f"maxlen::{name}"],
                bool(n and (n - nn) / n > 0.10),
            )
        )
    # Rounding happens Spark-side (SQL half-away-from-zero) rather than
    # via Python round() (half-to-even) so oracle comparisons share one
    # rounding algorithm.
    return local_frame(df.sparkSession, rows, _PROFILE_SCHEMA).withColumn(
        "null_pct", F.round("null_pct", 6)
    )
