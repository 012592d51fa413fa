"""Streaming near-dup ingestion against a persistent LSH band store.

The fuzzy sibling of this package's ``FingerprintStoreDedup`` (exact
hashes): each micro-batch of documents probes the accumulated corpus's
MinHash (band, band_hash) buckets, exact-Jaccard-verifies only the
colliding pairs, appends the ACCEPTED (novel) documents, and grows the
shingle store so later batches see them. "First near-copy ever wins" —
store-backed, so the decision horizon is unbounded and survives query
restarts (watermark state is not; see dedup_order_stream for the
bounded-horizon variant). The sink is the ``StoreDedupSink`` skeleton
with shingles as the signature; ``lsh_decisions`` is also the decision
of the registered batch twin ``dd_incremental_lsh_assign``.

Scale notes (100 TB/day feed):
- Per-batch cost is O(|batch| x bucket collisions): the probe is an
  equi-join on (band, bh) — with the band store disk-bucketed on that
  key only the micro-batch shuffles — and the verify join touches only
  colliding pairs' shingles.
- The stores are append-only parquet and nothing compacts them yet,
  so each batch's probe reads a growing file count. No state lives in
  the streaming checkpoint, so store size never hits Spark's
  state-store limits.
- The corpus-wide document-frequency cap the batch twin applies to
  shingles is a skew guard that needs global df counts; the streaming
  path would maintain those in a third store. Here the synthetic docs
  have no pathological shingle, so the guard is omitted and the
  batch-equivalence test uses the same no-cap pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_VERIFY_THRESHOLD,
    _bands,
    _minhash_sig,
    doc_shingles,
)
from .ingest import StoreDedupSink, best_match


def lsh_decisions(ids: DataFrame, batch_sh: DataFrame, store_sh: DataFrame) -> DataFrame:
    """Near-dup decisions of the batch docs ``ids`` (doc_id) against
    store docs.

    Returns (doc_id, is_neardup, matched_doc, jaccard): best store
    match at Jaccard >= MINHASH_VERIFY_THRESHOLD via banded MinHash
    candidates, NULL match when nothing survives verification. Both
    shingle inputs are (doc_id, sh) relations; candidates come from the
    (band, bh) equi-join, so the store side never scans beyond its
    colliding buckets.
    """
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
    return best_match(ids, jac, "j").select(
        "doc_id",
        F.col("matched_doc").isNotNull().alias("is_neardup"),
        "matched_doc",
        F.round("j", 6).alias("jaccard"),
    )


class LshBandStoreDedup(StoreDedupSink):
    """``LshBandStoreDedup(spark, shingle_dir, out_dir, audit_dir)``:
    first-NEAR-copy-ever-wins ingestion over a shingle store.

    The store holds the accepted docs' shingles (verification side);
    the LSH buckets are recomputed from them per probe here — a
    production deployment materializes the band table too and buckets
    it on (band, bh). Novel docs append to ``out_dir``; near-dups are
    dropped with their match recorded in ``audit_dir``.
    """

    signature = staticmethod(doc_shingles)
    decide = staticmethod(lsh_decisions)

    @staticmethod
    def store_rows(sh: DataFrame, accepted: DataFrame) -> list[DataFrame]:
        return [sh.join(accepted, "doc_id")]
