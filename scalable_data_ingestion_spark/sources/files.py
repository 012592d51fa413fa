"""File-drop ingestion (S4-S6, src/ingestion.py:213-444).

Batch readers over a drop directory with:
- explicit schema (no inference — schema drift surfaces as quarantined
  rows, not silent type changes),
- lineage columns (``source``, ``source_file`` via input_file_name,
  ``ingested_at``),
- corrupt-record quarantine via PERMISSIVE mode + ``_corrupt_record``
  on CSV (the reference moves whole files to an errors/ dir; per-row
  quarantine is strictly more precise); ``drop_corrupt`` is the lazy
  good-rows filter shared with the streaming ingest,
- multi-shape JSON handling (top-level list, ``{"orders": [...]}``
  wrapper, single object — src/ingestion.py:296-305),
- multi-source union + keep-first dedup (S6, :356-444) via
  unionByName(allowMissingColumns=True) + order-preserving dedup;
  ``collect_all`` caches nothing, so its caller owns the only persist.

The streaming twin (readStream + cleanSource='archive') lives in
``streaming/ingest.py``; this module is the one-shot batch path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .api import ApiSource, posts_to_orders

# A1 arrival schema: numerics arrive as strings in real drops; the
# cleaning stage owns coercion (F22).
ORDER_FILE_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("customer_name", T.StringType()),
        T.StructField("customer_email", T.StringType()),
        T.StructField("product", T.StringType()),
        T.StructField("quantity", T.StringType()),
        T.StructField("price", T.StringType()),
        T.StructField("discount", T.StringType()),
        T.StructField("total_amount", T.StringType()),
        T.StructField("order_date", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def _with_lineage(df: DataFrame, source: str) -> DataFrame:
    return (
        df.withColumn("source", F.lit(source))
        .withColumn("source_file", F.input_file_name())
        .withColumn("ingested_at", F.current_timestamp())
    )


def read_csv_dir(spark: SparkSession, input_dir: str) -> DataFrame:
    """S4: all *.csv in the drop dir, quarantine-aware."""
    df = spark.read.schema(ORDER_FILE_SCHEMA).option("header", True).option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", "_corrupt_record").csv(f"{input_dir}/*.csv")
    return _with_lineage(df, "file_csv")


def read_json_dir(spark: SparkSession, input_dir: str) -> DataFrame:
    """S5: all *.json; accepts list / {"orders": [...]} / single-object
    shapes by parsing each file as whole-text and normalizing to an
    array before explode."""
    raw = spark.read.text(f"{input_dir}/*.json", wholetext=True)
    order_struct = T.StructType([f for f in ORDER_FILE_SCHEMA.fields if f.name != "_corrupt_record"])
    as_list = F.from_json("value", T.ArrayType(order_struct))
    as_wrapper = F.from_json(
        "value", T.StructType([T.StructField("orders", T.ArrayType(order_struct))])
    )["orders"]
    as_single = F.array(F.from_json("value", order_struct))
    # explicit shape dispatch: from_json(ArrayType) silently wraps bare
    # objects into 1-element arrays, so coalesce alone misroutes shapes.
    trimmed = F.ltrim(F.col("value"))
    normalized = (
        F.when(trimmed.startswith("["), as_list)
        .when(F.get_json_object("value", "$.orders").isNotNull(), as_wrapper)
        .otherwise(as_single)
    )
    df = raw.select(F.explode(normalized).alias("o")).select("o.*")
    return _with_lineage(df, "file_json")


def drop_corrupt(df: DataFrame) -> DataFrame:
    """The rows PERMISSIVE mode parsed cleanly, without the corrupt-record
    column (a no-op on frames that have none)."""
    if "_corrupt_record" not in df.columns:
        return df
    return df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")


def quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (good, quarantined) on the corrupt-record column."""
    if "_corrupt_record" not in df.columns:
        return df, df.limit(0)
    # cache: Spark disallows queries that project only the internal
    # corrupt-record column from a raw file scan (QUERY_ONLY_CORRUPT_
    # RECORD_COLUMN), e.g. ``bad.count()``; caching materializes the
    # parse once. The caller owns the cache (``df.unpersist()``).
    df = df.cache()
    return drop_corrupt(df), df.filter(F.col("_corrupt_record").isNotNull())


def collect_all(
    spark: SparkSession,
    input_dir: str | None = None,
    api_limit: int = 100,
    api: ApiSource | None = None,
) -> DataFrame:
    """S6: API + CSV + JSON union with keep-first-by-source dedup.

    ``api`` fetches the REST rows (default: the offline feed).

    Source priority mirrors arrival order in the reference (API first,
    then CSV, then JSON): duplicates keep the API row, etc. Implemented
    with a priority column + row_number — deterministic, unlike a bare
    dropDuplicates.
    """
    api = api or ApiSource(offline=True)
    frames: list[tuple[int, DataFrame]] = [
        (0, posts_to_orders(spark, api.fetch_posts(api_limit)))
    ]
    if input_dir and os.path.isdir(input_dir):
        frames.append((1, drop_corrupt(read_csv_dir(spark, input_dir))))
        frames.append((2, read_json_dir(spark, input_dir)))

    union = None
    for priority, df in frames:
        tagged = df.withColumn("_src_priority", F.lit(priority))
        union = tagged if union is None else union.unionByName(tagged, allowMissingColumns=True)

    from pyspark.sql import Window as W

    w = W.partitionBy("order_id").orderBy("_src_priority")
    return (
        union.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src_priority")
    )
