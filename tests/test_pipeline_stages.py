"""Reference-parity stage tests (SURVEY.md §5 test plan).

Ports the reference suite's fixtures (FIXTURES.md §A): A1 clean orders,
A2 messy orders, A3 imperfect orders — including the metamorphic
quality-score test (tests.py:282-314), "the best idea in the reference
suite".
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scalable_data_ingestion_spark.operators.cleaning import clean
from scalable_data_ingestion_spark.operators.enrichment import enrich
from scalable_data_ingestion_spark.operators.standardize import standardize
from scalable_data_ingestion_spark.quality import (
    quality_scores,
    record_quality_counts,
    validate_schema,
)

A1_ROWS = [
    ("API-0001", "John Doe", "john@example.com", "iPhone 15", 1, 999.99, 0.0, 999.99, "2024-01-15", "api_rest"),
    ("API-0002", "Jane Smith", "jane@example.com", "MacBook Pro", 1, 1999.99, 0.0, 1999.99, "2024-01-16", "api_rest"),
    ("API-0003", "Bob Wilson", "bob@example.com", "AirPods Pro", 2, 249.99, 0.0, 499.98, "2024-01-17", "api_rest"),
]

A1_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("customer_name", T.StringType()),
        T.StructField("customer_email", T.StringType()),
        T.StructField("product", T.StringType()),
        T.StructField("quantity", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("discount", T.DoubleType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("order_date", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


@pytest.fixture()
def a1(spark):
    return spark.createDataFrame(A1_ROWS, A1_SCHEMA)


def recent_date_df(spark, days_ago: int = 30):
    """A1 with order dates shifted near 'today' so the accuracy date rule
    passes (reference fixtures use recent dates)."""
    df = spark.createDataFrame(A1_ROWS, A1_SCHEMA)
    return df.withColumn(
        "order_date", F.date_sub(F.current_date(), days_ago).cast("string")
    )


# ---- test 3 analog: cleaning (tests.py:107-127, A2 fixture) -------------
def test_cleaning_messy_orders(spark):
    messy_schema = T.StructType(
        [
            T.StructField("order_id", T.StringType()),
            T.StructField("customer_name", T.StringType()),
            T.StructField("customer_email", T.StringType()),
            T.StructField("product", T.StringType()),
            T.StructField("quantity", T.StringType()),  # stringly-typed
            T.StructField("price", T.StringType()),
            T.StructField("order_date", T.StringType()),
            T.StructField("_ingest_order", T.LongType()),
        ]
    )
    rows = [
        ("API-0001", "john doe", "JOHN@EXAMPLE.COM", "iPhone 15", "1", "999.99", "2024-01-15", 1),
        ("API-0001", "john doe", "JOHN@EXAMPLE.COM", "iPhone 15", "1", "999.99", "2024-01-15", 2),
        ("API-0002", "JANE SMITH", " jane@example.com ", "MacBook Pro", "1", "1999.99", "2024-01-16", 3),
        ("API-0003", None, "bob@example.com", "AirPods Pro", "not_a_number", "249.99", "2024-01-17", 4),
        ("API-0004", "Null Price", "x@example.com", "Widget", "1", None, "2024-01-18", 5),
    ]
    df = spark.createDataFrame(rows, messy_schema)
    out = clean(df, order_col="_ingest_order")
    collected = {r["order_id"]: r for r in out.collect()}

    # duplicate dropped, null-price row dropped
    assert sorted(collected) == ["API-0001", "API-0002", "API-0003"]
    # coercion: '1' -> 1L, '999.99' -> 999.99, 'not_a_number' -> NULL -> filled 1
    assert collected["API-0001"]["quantity"] == 1
    assert collected["API-0001"]["price"] == 999.99
    assert collected["API-0003"]["quantity"] == 1  # coerce-fail -> fill 1
    # text cleaning
    assert collected["API-0001"]["customer_name"] == "John Doe"
    assert collected["API-0001"]["customer_email"] == "john@example.com"
    assert collected["API-0002"]["customer_name"] == "Jane Smith"
    assert collected["API-0002"]["customer_email"] == "jane@example.com"
    # null-fill name
    assert collected["API-0003"]["customer_name"] == "Unknown Customer"
    # coercion produced typed columns
    assert dict(out.dtypes)["quantity"] == "bigint"
    assert dict(out.dtypes)["price"] == "double"
    assert dict(out.dtypes)["order_date"] == "timestamp"


# ---- test 4 analog: enrichment (tests.py:129-155) ----------------------
def test_enrichment_fields(spark, a1):
    out = enrich(a1.withColumn("order_date", F.col("order_date").cast("timestamp")))
    row = {r["order_id"]: r for r in out.collect()}

    expected_fields = {
        "customer_segment", "customer_value_tier", "customer_type",
        "product_brand", "product_category_detailed", "product_price_tier",
        "estimated_profit_margin", "estimated_profit", "revenue_tier",
        "order_year", "order_month", "order_day", "order_weekday",
        "order_quarter", "season", "days_since_order", "risk_score", "risk_level",
    }
    assert expected_fields <= set(out.columns)

    iphone = row["API-0001"]
    assert iphone["product_brand"] == "Apple"
    assert iphone["product_category_detailed"] == "Mobile"
    assert iphone["customer_segment"] == "Premium"  # 999.99 >= 500
    assert iphone["customer_value_tier"] == "Premium"  # (500, 1000]
    assert iphone["product_price_tier"] == "Premium"  # (500, 1000]
    assert iphone["estimated_profit_margin"] == 0.25
    assert iphone["season"] == "Winter"
    assert iphone["order_weekday"] == "Monday"
    assert iphone["order_quarter"] == 1

    macbook = row["API-0002"]
    assert macbook["customer_segment"] == "VIP"  # 1999.99 >= 1000
    assert macbook["product_brand"] == "Apple"
    assert macbook["product_category_detailed"] == "Computer"
    assert macbook["estimated_profit_margin"] == 0.30
    assert macbook["risk_score"] >= 30  # total > 1000

    airpods = row["API-0003"]
    assert airpods["product_category_detailed"] == "Audio"
    assert airpods["customer_value_tier"] == "High"  # 499.98 in (200, 500]
    assert airpods["customer_type"] == "Individual"


def test_cut_bins_are_right_closed(spark):
    """pd.cut parity: (0,50] -> Low, exactly 50 -> Low, 0 -> NULL."""
    df = spark.createDataFrame(
        [(0.0,), (50.0,), (50.01,), (1000.0,), (1000.01,), (-5.0,)], ["total_amount"]
    )
    from scalable_data_ingestion_spark.functions import customer_value_tier

    got = [r[0] for r in df.select(customer_value_tier("total_amount")).collect()]
    assert got == [None, "Low", "Medium", "Premium", "VIP", None]


def test_keyword_order_apple_watch_before_wearable(spark):
    from scalable_data_ingestion_spark.functions import product_brand, product_category

    df = spark.createDataFrame(
        [("Apple Watch Series 9",), ("Galaxy Watch",), (None,)], ["product"]
    )
    rows = df.select(
        product_brand("product").alias("b"), product_category("product").alias("c")
    ).collect()
    assert rows[0]["b"] == "Apple"  # 'apple watch' keyword, not Other
    assert rows[1]["b"] == "Samsung"  # 'galaxy' before any watch rule
    assert rows[0]["c"] == "Wearable"
    assert rows[2]["b"] == "Unknown"


# ---- test 2/9 analog: quality scoring + metamorphic (tests.py:84-105,
# 282-314, A3 fixture) ---------------------------------------------------
def test_quality_scores_clean_fixture(spark):
    df = recent_date_df(spark)
    scores = quality_scores(df)
    assert scores["completeness_score"] == 100.0
    assert scores["validity_score"] == 100.0
    assert scores["overall_score"] > 80
    assert scores["total_records"] == 3
    assert scores["valid_records"] == 3
    assert scores["quality_level"] in {"excellent", "good", "fair", "poor", "critical"}


def test_quality_scores_metamorphic(spark):
    clean_df = recent_date_df(spark)
    base = quality_scores(clean_df)

    corrupted = (
        clean_df.withColumn(
            "customer_email",
            F.when(F.col("order_id") == "API-0001", "invalid-email").otherwise(
                F.col("customer_email")
            ),
        )
        .withColumn(
            "price",
            F.when(F.col("order_id") == "API-0002", -100.0).otherwise(F.col("price")),
        )
        .withColumn(
            "quantity",
            F.when(F.col("order_id") == "API-0003", F.lit(None).cast("long")).otherwise(
                F.col("quantity")
            ),
        )
    )
    bad = quality_scores(corrupted)

    assert bad["completeness_score"] < base["completeness_score"]
    assert bad["validity_score"] < base["validity_score"]
    assert bad["accuracy_score"] < base["accuracy_score"]
    assert bad["valid_records"] < base["valid_records"]


def test_record_quality_counts(spark):
    df = recent_date_df(spark).withColumn(
        "price", F.when(F.col("order_id") == "API-0001", -1.0).otherwise(F.col("price"))
    )
    valid, invalid = record_quality_counts(df)
    assert (valid, invalid) == (2, 1)


# ---- schema validation (src/validation.py:336-424) ---------------------
def test_schema_validation_tristate(spark, a1):
    ok = validate_schema(a1)
    assert ok.is_valid and not ok.errors

    missing = validate_schema(a1.drop("order_id"))
    assert not missing.is_valid
    assert any("order_id" in e for e in missing.errors)

    wrong_type = validate_schema(a1.withColumn("price", F.col("price").cast("string")))
    assert wrong_type.is_valid  # type mismatch is a warning, not error
    assert any("price" in w for w in wrong_type.warnings)

    extra = validate_schema(a1.withColumn("bonus_col", F.lit(1)))
    assert extra.is_valid
    assert any("bonus_col" in w for w in extra.warnings)


# ---- standardization (src/transformation.py:584-657) -------------------
def test_standardize(spark):
    df = spark.createDataFrame(
        [Row(order_id="api-0001", customer_name="john doe",
             customer_email=" JOHN@EXAMPLE.COM ", source="API_REST",
             price=1.2345, total_amount=2.3456, estimated_profit=0.5678)]
    )
    row = standardize(df).first()
    assert row["order_id"] == "API-0001"
    assert row["customer_name"] == "John Doe"
    assert row["customer_email"] == "john@example.com"
    assert row["source"] == "api_rest"
    assert row["price"] == 1.23
    assert row["total_amount"] == 2.35
    assert row["estimated_profit"] == 0.57


def test_observed_quality_counts_match_aggregate_pass(spark, tmp_path):
    """attach_quality_observation: the observe() side-channel returns
    the SAME A6 counts as the dedicated aggregate pass, collected for
    free off the action the caller runs anyway (a parquet write here —
    no second scan of the input)."""
    from scalable_data_ingestion_spark.quality.metrics import (
        attach_quality_observation,
    )

    df = recent_date_df(spark).withColumn(
        "price",
        F.when(F.col("order_id") == "API-0001", -1.0).otherwise(F.col("price")),
    )
    observed, obs = attach_quality_observation(df)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    valid, invalid = record_quality_counts(df)
    assert (got["valid_records"], got["invalid_records"]) == (valid, invalid)
    assert got["n_rows"] == valid + invalid == 3


def test_field_profile_types_every_frame_shape(spark):
    """A7 profile of an all-string, an all-numeric and a mixed frame. A
    profile column that is NULL in every row (min/max of an all-string
    frame, lengths of an all-numeric one) still has its declared type."""
    from scalable_data_ingestion_spark.quality.metrics import field_profile

    shapes = {
        "strings": ([("a", "bb"), ("c", None)], "s1 string, s2 string"),
        "numbers": ([(1, 2.5), (3, None)], "n1 bigint, n2 double"),
        "mixed": ([("a", 1), (None, 2)], "s string, n bigint"),
    }
    for shape, (rows, ddl) in shapes.items():
        profile = field_profile(spark.createDataFrame(rows, ddl)).collect()
        prof = {r["column"]: r for r in profile}
        assert len(prof) == 2, shape
        for name, r in prof.items():
            numeric = r["dtype"] != "string"
            assert (r["min_value"] is not None) == numeric, (shape, name)
            assert (r["avg_length"] is not None) == (not numeric), (shape, name)
    assert prof["s"]["null_count"] == 1 and prof["s"]["null_pct"] == 50.0
    assert prof["n"]["max_value"] == 2.0 and prof["n"]["high_null_flag"] is False
