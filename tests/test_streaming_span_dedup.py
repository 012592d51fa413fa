"""Streaming winnow-span / b-bit sketch-store dedup == sequential batch
decisions (round-9: the last batch-vs-stream asymmetries in §2.9)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from scalable_data_ingestion_spark.operators.winnow import (
    winnow_fingerprints_of,
)
from scalable_data_ingestion_spark.streaming.ingest import start_foreach_batch
from scalable_data_ingestion_spark.streaming.span_dedup import (
    BbitSketchStoreDedup,
    WinnowFpStoreDedup,
    _bit_cols,
    bbit_decisions,
    winnow_decisions,
)
from scalable_data_ingestion_spark.operators.dedup import (
    _bands,
    _minhash_sig,
    doc_shingles,
)


def _doc(i: int, words: list[str]) -> tuple[int, str]:
    return (i, " ".join(words))


BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest where nobody ever goes at night"
).split()
NOVEL1 = (
    "completely different words about spark shuffles and parquet pruning "
    "with adaptive execution rewriting join strategies at runtime today"
).split()
NOVEL2 = (
    "bucketed joins avoid shuffles when both sides share the layout key "
    "and the sort order matches the bucket specification exactly"
).split()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _fp(df):
    return winnow_fingerprints_of(df).select("doc_id", "fp")


def test_streaming_winnow_dedup_sequential_semantics(spark, tmp_path):
    """Batch 2 must reject span-copies of docs ACCEPTED IN BATCH 1 (the
    fingerprint store grows between micro-batches), and the stream's
    decisions match the pure kernel applied sequentially."""
    fp_dir, out_dir, audit_dir = (
        str(tmp_path / d) for d in ("fps", "out", "audit")
    )
    store0 = _docs(spark, [_doc(1, BASE)])
    _fp(store0).write.mode("overwrite").parquet(fp_dir)

    sink = WinnowFpStoreDedup(spark, fp_dir, out_dir, audit_dir)
    # batch 1: a doc sharing BASE's first 15 words (a span copy) ->
    # reject; a novel doc -> accept.
    b1 = _docs(spark, [_doc(10, BASE[:15] + ["trailing", "novel", "suffix"]),
                       _doc(11, NOVEL1)])
    sink.process_batch(b1, 0)
    # batch 2: a span copy of the doc accepted in batch 1 -> reject
    # (store grew); another novel doc -> accept.
    b2 = _docs(spark, [_doc(20, NOVEL1[:12] + ["brand", "new", "tail"]),
                       _doc(21, NOVEL2)])
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

    # sequential batch-twin equivalence through the pure kernel
    d1 = winnow_decisions(b1.select("doc_id"), _fp(b1), _fp(store0)).collect()
    assert {r["doc_id"]: r["is_spandup"] for r in d1} == {10: 1, 11: 0}
    grown = _fp(store0).unionByName(_fp(b1.filter(F.col("doc_id") == 11)))
    d2 = winnow_decisions(b2.select("doc_id"), _fp(b2), grown).collect()
    assert {r["doc_id"]: r["is_spandup"] for r in d2} == {20: 1, 21: 0}


def test_streaming_bbit_dedup_sequential_semantics(spark, tmp_path):
    """Same contract for the b=1-bit sketch store: the store holds only
    bands + bit columns, decisions match the pure kernel, and the store
    grows between micro-batches."""
    bands_dir, bits_dir, out_dir, audit_dir = (
        str(tmp_path / d) for d in ("bands", "bits", "out", "audit")
    )
    store0 = _docs(spark, [_doc(1, BASE)])
    sig0 = _minhash_sig(doc_shingles(store0))
    _bands(sig0).write.mode("overwrite").parquet(bands_dir)
    _bit_cols(sig0, "b").write.mode("overwrite").parquet(bits_dir)

    sink = BbitSketchStoreDedup(spark, bands_dir, bits_dir, out_dir, audit_dir)
    # batch 1: verbatim copy of the store doc (J=1, all bits match) ->
    # reject; novel -> accept.
    b1 = _docs(spark, [_doc(10, BASE), _doc(11, NOVEL1)])
    sink.process_batch(b1, 0)
    # batch 2: verbatim copy of batch-1's accepted doc -> reject; novel
    # -> accept.
    b2 = _docs(spark, [_doc(20, NOVEL1), _doc(21, NOVEL2)])
    sink.process_batch(b2, 1)

    accepted = {
        r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()
    }
    assert accepted == {11, 21}
    audit = {
        r["doc_id"]: (r["matched_doc"], r["m1_matches"])
        for r in spark.read.parquet(audit_dir).collect()
    }
    assert audit == {10: (1, 12), 20: (11, 12)}

    # pure-kernel equivalence with a manually grown store
    d1 = bbit_decisions(
        b1.select("doc_id"), doc_shingles(b1), _bands(sig0), _bit_cols(sig0, "b")
    ).collect()
    assert {r["doc_id"]: r["is_neardup"] for r in d1} == {10: 1, 11: 0}
    sig1 = _minhash_sig(doc_shingles(b1.filter(F.col("doc_id") == 11)))
    grown_bands = _bands(sig0).unionByName(_bands(sig1))
    grown_bits = _bit_cols(sig0, "b").unionByName(_bit_cols(sig1, "b"))
    d2 = bbit_decisions(
        b2.select("doc_id"), doc_shingles(b2), grown_bands, grown_bits
    ).collect()
    assert {r["doc_id"]: r["is_neardup"] for r in d2} == {20: 1, 21: 0}


def test_streaming_span_dedup_via_foreachbatch(spark, tmp_path):
    """End-to-end through a real readStream file drop (winnow sink),
    including idempotent exact re-delivery of an already-stored doc."""
    src = tmp_path / "src"
    src.mkdir()
    fp_dir, out_dir, audit_dir = (
        str(tmp_path / d) for d in ("fps", "out", "audit")
    )
    _docs(spark, [_doc(1, BASE)]).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    sink = WinnowFpStoreDedup(spark, fp_dir, out_dir, audit_dir)
    q = start_foreach_batch(stream, sink.process_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # second drop: re-delivery of doc 1's text under a new id + a span
    # copy + a novel doc
    more = _docs(
        spark,
        [_doc(2, BASE), _doc(3, BASE[:15] + ["some", "extra", "words"]),
         _doc(4, NOVEL2)],
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
