"""Streaming near-dup ingestion against a persistent LSH band store.

The streaming twin of ``operators/incremental_dedup.py::
dd_incremental_lsh_assign`` — and the fuzzy sibling of this package's
``FingerprintStoreDedup`` (exact hashes): each micro-batch of documents
probes the accumulated corpus's MinHash (band, band_hash) buckets,
exact-Jaccard-verifies only the colliding pairs, appends the ACCEPTED
(novel) documents, and grows the band + shingle stores so later
batches see them. "First near-copy ever wins" — store-backed, so the
decision horizon is unbounded and survives query restarts (watermark
state is not; see dedup_order_stream for the bounded-horizon variant).

Scale notes (100 TB/day feed):
- Per-batch cost is O(|batch| x bucket collisions): the probe is an
  equi-join on (band, bh) — with the band store disk-bucketed on that
  key only the micro-batch shuffles — and the verify join touches only
  colliding pairs' shingles.
- The stores are append-only parquet and nothing compacts them yet,
  so each batch's probe reads a growing file count. No state lives in
  the streaming checkpoint, so store size never hits Spark's
  state-store limits.
- The corpus-wide document-frequency cap the batch operator applies to
  shingles is a skew guard that needs global df counts; the streaming
  path would maintain those in a third store. Here the synthetic docs
  have no pathological shingle, so the guard is omitted and the
  batch-equivalence test uses the same no-cap pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_VERIFY_THRESHOLD,
    SHINGLE_N,
    _bands,
    _minhash_sig,
)
from .ingest import read_store, start_foreach_batch


def _shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles of an arbitrary (doc_id, text)
    relation (no corpus-df cap — see module docstring)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= SHINGLE_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {SHINGLE_N}), "
                    "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                )
            ).alias("sh"),
        )
        .distinct()
    )


def lsh_decisions(batch_sh: DataFrame, store_sh: DataFrame) -> DataFrame:
    """Near-dup decisions of batch docs against store docs.

    Returns (doc_id, is_neardup, matched_doc, jaccard): best store
    match at Jaccard >= {MINHASH_VERIFY_THRESHOLD} via banded MinHash
    candidates, NULL match when nothing survives verification. Both
    inputs are (doc_id, sh) shingle relations; candidates come from the
    (band, bh) equi-join, so the store side never scans beyond its
    colliding buckets.
    """
    from pyspark.sql import Window as W

    bb = _bands(_minhash_sig(batch_sh)).select(
        F.col("doc_id").alias("batch_id"), "band", "bh"
    )
    bs = _bands(_minhash_sig(store_sh)).select(
        F.col("doc_id").alias("store_id"), "band", "bh"
    )
    cand = bb.join(bs, ["band", "bh"]).select("batch_id", "store_id").distinct()
    sha = batch_sh.select(F.col("doc_id").alias("batch_id"), F.col("sh").alias("sh_a"))
    shb = store_sh.select(F.col("doc_id").alias("_sid"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(sha, "batch_id")
        .join(shb, (F.col("store_id") == F.col("_sid")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("batch_id", "store_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = batch_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na")).select(
        F.col("doc_id").alias("batch_id"), "na"
    )
    sb = store_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb")).select(
        F.col("doc_id").alias("store_id"), "nb"
    )
    jac = (
        inter.join(sa, "batch_id")
        .join(sb, "store_id")
        .select(
            "batch_id",
            "store_id",
            (F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))).alias("j"),
        )
        .filter(F.col("j") >= MINHASH_VERIFY_THRESHOLD)
    )
    best = jac.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("batch_id").orderBy(F.desc("j"), F.asc("store_id"))
        ),
    ).filter(F.col("rn") == 1)
    batch_ids = batch_sh.select("doc_id").distinct()
    return batch_ids.join(
        best.select(
            F.col("batch_id").alias("doc_id"),
            F.col("store_id").alias("matched_doc"),
            "j",
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.col("matched_doc").isNotNull().alias("is_neardup"),
        F.col("matched_doc").cast("bigint"),
        F.round("j", 6).alias("jaccard"),
    )


class LshBandStoreDedup:
    """foreachBatch sink: first-NEAR-copy-ever-wins document ingestion.

    Maintains two append-only parquet stores — the accepted docs'
    shingles (verification side) and, implicitly through them, the LSH
    buckets recomputed per probe here; a production deployment
    materializes the band table too and buckets it on (band, bh). Novel
    docs append to ``out_dir``; near-dups are dropped with their match
    recorded in ``audit_dir``.
    """

    def __init__(
        self, spark: SparkSession, shingle_dir: str, out_dir: str, audit_dir: str
    ):
        self.spark = spark
        self.shingle_dir = shingle_dir
        self.out_dir = out_dir
        self.audit_dir = audit_dir

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_sh = _shingles_of(batch_df).persist()
        try:
            store_sh = read_store(self.spark, self.shingle_dir)
            if store_sh is None:
                decisions = batch_sh.select("doc_id").distinct().select(
                    "doc_id",
                    F.lit(False).alias("is_neardup"),
                    F.lit(None).cast("bigint").alias("matched_doc"),
                    F.lit(None).cast("double").alias("jaccard"),
                )
            else:
                decisions = lsh_decisions(batch_sh, store_sh)
            # Materialize decisions BEFORE mutating the store: the plan
            # reads the shingle store lazily, so an un-forced persist
            # would re-read the store v2 (including this batch's own
            # appended shingles) on the audit write and every batch doc
            # would "match" itself.
            decisions = decisions.persist()
            decisions.count()
            accepted = decisions.filter(~F.col("is_neardup")).select("doc_id")
            decisions.filter(F.col("is_neardup")).write.mode("append").parquet(
                self.audit_dir
            )
            batch_df.join(accepted, "doc_id").write.mode("append").parquet(
                self.out_dir
            )
            # store mutation LAST, after every store-v1 read is served
            # from the cached decisions
            batch_sh.join(accepted, "doc_id").write.mode("append").parquet(
                self.shingle_dir
            )
            decisions.unpersist()
        finally:
            batch_sh.unpersist()


def start_lsh_dedup_ingest(
    docs_stream: DataFrame,
    spark: SparkSession,
    shingle_dir: str,
    out_dir: str,
    audit_dir: str,
    checkpoint_dir: str,
    run_once: bool = True,
):
    """Wire a document stream through the LSH band-store near-dedup."""
    sink = LshBandStoreDedup(spark, shingle_dir, out_dir, audit_dir)
    return start_foreach_batch(docs_stream, sink.process_batch, checkpoint_dir, run_once)
