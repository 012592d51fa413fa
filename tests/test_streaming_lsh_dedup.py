"""Streaming LSH band-store near-dedup == sequential batch decisions."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from scalable_data_ingestion_spark.operators.dedup import doc_shingles
from scalable_data_ingestion_spark.streaming.ingest import start_foreach_batch
from scalable_data_ingestion_spark.streaming.lsh_dedup import (
    LshBandStoreDedup,
    lsh_decisions,
)


def _doc(i: int, words: list[str]) -> tuple[int, str]:
    return (i, " ".join(words))


BASE = "the quick brown fox jumps over the lazy dog again and again".split()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_streaming_lsh_dedup_sequential_semantics(spark, tmp_path):
    """Batch 2 must reject near-dups of docs ACCEPTED IN BATCH 1 (the
    store grows between micro-batches), and everything the stream
    accepts matches the sequentially applied batch decision function."""
    shingle_dir = str(tmp_path / "shingles")
    out_dir = str(tmp_path / "out")
    audit_dir = str(tmp_path / "audit")

    # store seed: one accepted document
    store0 = _docs(spark, [_doc(1, BASE)])
    doc_shingles(store0).write.mode("overwrite").parquet(shingle_dir)

    sink = LshBandStoreDedup(spark, shingle_dir, out_dir, audit_dir)

    # batch 1: a near-dup of the store doc (drop first word) -> reject;
    # a genuinely new doc -> accept.
    new_words = "completely different words about spark shuffles and parquet pruning today".split()
    b1 = _docs(spark, [_doc(10, BASE[1:]), _doc(11, new_words)])
    sink.process_batch(b1, 0)

    # batch 2: a near-dup of the doc ACCEPTED in batch 1 -> must reject
    # (proves the store grew); another new doc -> accept.
    other = "bucketed joins avoid shuffles when both sides share the layout key".split()
    b2 = _docs(spark, [_doc(20, new_words[1:]), _doc(21, other)])
    sink.process_batch(b2, 1)

    accepted = {
        r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()
    }
    assert accepted == {11, 21}

    audit = {
        r["doc_id"]: r["matched_doc"]
        for r in spark.read.parquet(audit_dir).collect()
    }
    assert audit == {10: 1, 20: 11}

    # sequential batch-twin equivalence: replay the same two batches
    # through the pure decision function with a manually grown store.
    store_sh = doc_shingles(store0)
    d1 = lsh_decisions(b1.select("doc_id"), doc_shingles(b1), store_sh).collect()
    assert {r["doc_id"]: r["is_neardup"] for r in d1} == {10: True, 11: False}
    store_sh2 = store_sh.unionByName(
        doc_shingles(b1.filter(F.col("doc_id") == 11))
    )
    d2 = lsh_decisions(b2.select("doc_id"), doc_shingles(b2), store_sh2).collect()
    assert {r["doc_id"]: r["is_neardup"] for r in d2} == {20: True, 21: False}


def test_streaming_lsh_dedup_via_foreachbatch(spark, tmp_path):
    """End-to-end through a real readStream/writeStream file drop."""
    src = tmp_path / "src"
    src.mkdir()
    shingle_dir = str(tmp_path / "sh")
    out_dir = str(tmp_path / "out")
    audit_dir = str(tmp_path / "audit")

    _docs(spark, [_doc(1, BASE)]).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    sink = LshBandStoreDedup(spark, shingle_dir, out_dir, audit_dir)
    q = start_foreach_batch(stream, sink.process_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # second drop: exact re-delivery + near-dup + novel doc
    more = _docs(
        spark,
        [_doc(2, BASE), _doc(3, BASE[1:]),
         _doc(4, "totally novel content with unique tokens everywhere now".split())],
    )
    more.write.mode("append").parquet(str(src))
    q2 = start_foreach_batch(stream, sink.process_batch, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)

    accepted = {
        r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()
    }
    assert 1 in accepted and 4 in accepted
    assert 2 not in accepted and 3 not in accepted
    if os.path.isdir(audit_dir):
        rejected = {
            r["doc_id"] for r in spark.read.parquet(audit_dir).collect()
        }
        assert rejected == {2, 3}
