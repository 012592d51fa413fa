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

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window as W
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


# What Spark raises for a store nothing has been appended to yet: no
# directory, or a directory without data files.
_EMPTY_STORE = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """The append-only parquet store at ``path``, or None while it is
    empty. Spark resolves the path, so a ``file://``, ``hdfs://`` or
    ``s3a://`` store is read like a local one; any other error raises.
    Every store-backed dedup sink reads its store here."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() in _EMPTY_STORE:
            return None
        raise


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
        store = read_store(self.spark, self.store_dir)
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


# --------------------------------------------------------------------------
# Store-backed NEAR-dup ingestion (lsh_dedup.py, span_dedup.py): the same
# loop over a different signature — probe the append-only stores with the
# micro-batch's signature, keep each doc's best verified match, append
# the novel docs and grow the stores so later batches see them.
# --------------------------------------------------------------------------
def best_match(ids: DataFrame, scored: DataFrame, score: str) -> DataFrame:
    """Every batch doc of ``ids`` (doc_id) with its best store match in
    ``scored`` (batch_id, store_id, ``score``, ...): the highest
    ``score``, ties to the lowest store_id. Returns doc_id, matched_doc
    (bigint) and the other scored columns; a doc with no scored row —
    none verified, no signature (too short to shingle), or an empty
    store — keeps its row with NULLs. Every store-dedup decision ends
    here."""
    rank = W.partitionBy("batch_id").orderBy(F.desc(score), F.asc("store_id"))
    best = (
        scored.withColumn("_rn", F.row_number().over(rank))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("store_id", F.col("store_id").cast("bigint"))
        .withColumnsRenamed({"batch_id": "doc_id", "store_id": "matched_doc"})
    )
    return ids.join(best, "doc_id", "left")


class StoreDedupSink:
    """foreachBatch sink skeleton: first-near-copy-ever-wins ingestion
    against append-only parquet stores.

    Built as ``Sink(spark, *store_dirs, out_dir, audit_dir)``. A
    subclass supplies three functions:

    - ``signature(batch_df)``: the batch's (doc_id, ...) signature rows;
    - ``decide(ids, sig, *stores)``: one decision row per batch doc,
      through ``best_match`` (NULL ``matched_doc`` = novel);
    - ``store_rows(sig, accepted)``: the rows each store gains from the
      accepted doc ids, in store_dirs order.

    A store nothing has been appended to yet is decided against as the
    store that no accepted doc would grow: ``store_rows`` of no docs.
    Decisions are forced before the stores mutate: the plan reads the
    stores lazily, so a later read would see this batch's own appended
    rows and every doc would match itself. Near-dups go to
    ``audit_dir`` with their match, novel docs to ``out_dir``; the
    stores are appended last, here and nowhere else.
    """

    def __init__(self, spark: SparkSession, *dirs: str):
        self.spark = spark
        *self.store_dirs, self.out_dir, self.audit_dir = dirs

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        sig = self.signature(batch_df).persist()
        try:
            ids = batch_df.select("doc_id").distinct()
            stores = [read_store(self.spark, d) for d in self.store_dirs]
            if any(store is None for store in stores):
                stores = self.store_rows(sig, ids.limit(0))
            decisions = self.decide(ids, sig, *stores).persist()
            decisions.count()  # force before the stores mutate
            matched = F.col("matched_doc").isNotNull()
            accepted = decisions.filter(~matched).select("doc_id")
            decisions.filter(matched).write.mode("append").parquet(self.audit_dir)
            batch_df.join(accepted, "doc_id").write.mode("append").parquet(self.out_dir)
            for rows, path in zip(self.store_rows(sig, accepted), self.store_dirs):
                rows.write.mode("append").parquet(path)
            decisions.unpersist()
        finally:
            sig.unpersist()
