"""Structured Streaming tests: file-drop ingest pipeline + windowed
aggregations equal their batch twins."""

from __future__ import annotations

import os

import pytest

from scalable_data_ingestion_spark.storage import Warehouse
from scalable_data_ingestion_spark.streaming.ingest import (
    FingerprintStoreDedup,
    start_foreach_batch,
    start_ingest,
)
from scalable_data_ingestion_spark.streaming.lsh_dedup import LshBandStoreDedup
from scalable_data_ingestion_spark.streaming.queries import tumbling_agg
from scalable_data_ingestion_spark.streaming.span_dedup import (
    BbitSketchStoreDedup,
    WinnowFpStoreDedup,
)
from scalable_data_ingestion_spark.streaming.windows import (
    event_stream_from_parquet,
    run_to_memory,
    streaming_sessions,
    streaming_tumbling,
)

SF = "/root/testdata/sf0.001"


def test_streaming_file_ingest(spark, tmp_path):
    input_dir = tmp_path / "drops"
    input_dir.mkdir()
    (input_dir / "batch1.csv").write_text(
        "order_id,customer_name,customer_email,product,quantity,price,discount,total_amount,order_date\n"
        "STR-0001,Ann A,ann@example.com,iPhone 15,1,999.99,0.0,999.99,2024-01-10\n"
        "STR-0002,Ben B,ben@example.com,iPad Air,2,599.99,0.0,1199.98,2024-01-11\n"
    )
    (input_dir / "batch2.csv").write_text(
        "order_id,customer_name,customer_email,product,quantity,price,discount,total_amount,order_date\n"
        "STR-0003,Cal C,cal@example.com,MacBook Pro,1,1999.99,0.0,1999.99,2024-01-12\n"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    archive = str(tmp_path / "archive")
    query = start_ingest(
        spark,
        str(input_dir),
        wh,
        checkpoint_dir=str(tmp_path / "ckpt"),
        archive_dir=archive,
        once=True,
    )
    query.awaitTermination(120)

    stored = wh.read_orders(order_by="order_id", desc=False)
    ids = [r["order_id"] for r in stored.select("order_id").collect()]
    assert sorted(ids) == ["STR-0001", "STR-0002", "STR-0003"]
    # micro-batches ran the full transform chain
    assert "customer_segment" in stored.columns
    row = {r["order_id"]: r for r in stored.collect()}
    assert row["STR-0003"]["customer_segment"] == "VIP"

    # restart with no new files: checkpoint prevents reprocessing
    q2 = start_ingest(
        spark, str(input_dir), wh, checkpoint_dir=str(tmp_path / "ckpt"),
        archive_dir=archive, once=True,
    )
    q2.awaitTermination(120)
    assert wh.read_orders(order_by="order_id", desc=False).count() == 3


def test_streaming_tumbling_equals_batch(spark):
    events_stream = event_stream_from_parquet(spark, f"{SF}/events.parquet")
    got = run_to_memory(streaming_tumbling(events_stream), "t_tumbling", spark)

    from scalable_data_ingestion_spark.catalog import table

    expected = tumbling_agg(table(spark, SF, "events"))
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e


def test_streaming_sessions_run(spark):
    events_stream = event_stream_from_parquet(spark, f"{SF}/events.parquet")
    got = run_to_memory(streaming_sessions(events_stream), "t_sessions", spark)
    assert got.count() > 0
    assert set(got.columns) == {"user_id", "session_start", "n_events", "sum_value"}


def test_streaming_dedup_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per order_id even when
    a later file re-delivers the same key."""
    from scalable_data_ingestion_spark.streaming.ingest import (
        dedup_order_stream,
        order_file_stream,
    )

    input_dir = tmp_path / "drops"
    input_dir.mkdir()
    header = "order_id,customer_name,customer_email,product,quantity,price,discount,total_amount,order_date\n"
    (input_dir / "a.csv").write_text(
        header
        + "DUP-0001,Ann A,ann@example.com,iPhone 15,1,999.99,0.0,999.99,2024-01-10\n"
        + "DUP-0002,Ben B,ben@example.com,iPad Air,2,599.99,0.0,1199.98,2024-01-11\n"
    )
    (input_dir / "b.csv").write_text(
        header
        + "DUP-0001,Ann A,ann@example.com,iPhone 15,1,999.99,0.0,999.99,2024-01-10\n"
        + "DUP-0003,Cal C,cal@example.com,MacBook Pro,1,1999.99,0.0,1999.99,2024-01-12\n"
    )
    stream = order_file_stream(spark, str(input_dir), max_files_per_trigger=1)
    deduped = dedup_order_stream(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r["order_id"] for r in spark.sql("SELECT order_id FROM t_dedup").collect()]
    assert sorted(ids) == ["DUP-0001", "DUP-0002", "DUP-0003"]


def test_stream_stream_join_equals_batch(spark):
    """Watermarked stream-stream click->purchase join produces exactly the
    batch rows when the whole history is replayed."""
    from scalable_data_ingestion_spark.catalog import table
    from scalable_data_ingestion_spark.streaming.joins import click_purchase_pairs

    events_stream = event_stream_from_parquet(spark, f"{SF}/events.parquet")
    got = run_to_memory(
        click_purchase_pairs(events_stream, streaming=True),
        "t_ssj",
        spark,
        output_mode="append",
    )
    expected = click_purchase_pairs(table(spark, SF, "events"))
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e
    assert len(e) > 0


def test_incremental_rollup_equals_batch(spark, tmp_path):
    """Incrementally-maintained daily rollup == full batch recompute,
    and re-delivering a batch's partials does not double-count."""
    from pyspark.sql import functions as F

    from scalable_data_ingestion_spark.streaming.incremental import (
        IncrementalDailyActivity,
    )

    stream = event_stream_from_parquet(
        spark, f"{SF}/events.parquet", max_files_per_trigger=1
    )
    mv = IncrementalDailyActivity(spark, str(tmp_path / "mv"))
    q = mv.attach(stream, checkpoint_dir=str(tmp_path / "mv_ckpt"), once=True)
    q.awaitTermination(120)

    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy(
            F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    got = {tuple(r[:2]): tuple(r[2:]) for r in mv.view().collect()}
    want = {tuple(r[:2]): tuple(r[2:]) for r in batch.collect()}
    assert got == want

    # simulate re-delivery of batch 0: fold the same micro-batch again —
    # dynamic partition overwrite must keep the view unchanged
    first_batch = spark.read.parquet(f"{SF}/events.parquet")
    mv.fold_batch(first_batch, 0)
    mv.fold_batch(first_batch, 0)
    # after double "re-delivery", batch 0's partials exist exactly once;
    # the remaining batches' partials are intact
    again = {tuple(r[:2]): tuple(r[2:]) for r in mv.view().collect()}
    # batch 0 originally held a subset of events; re-delivering the FULL
    # table as batch 0 changes totals — so rebuild expectations: batch 0
    # partial == whole table, other batch partials unchanged is not equal
    # to `want`; instead assert idempotence: folding twice == folding once
    mv2 = IncrementalDailyActivity(spark, str(tmp_path / "mv2"))
    mv2.fold_batch(first_batch, 0)
    once_only = {tuple(r[:2]): tuple(r[2:]) for r in mv2.view().collect()}
    twice = again  # noqa: F841  (kept for debugging on failure)
    mv2.fold_batch(first_batch, 0)
    assert {tuple(r[:2]): tuple(r[2:]) for r in mv2.view().collect()} == once_only

    # compaction preserves the merged values and folds partials into one
    mv2.compact()
    assert {tuple(r[:2]): tuple(r[2:]) for r in mv2.view().collect()} == once_only


def test_fingerprint_store_dedup_across_restarts(spark, tmp_path):
    """Streaming dedup against the on-disk fingerprint store: first copy
    ever wins — across micro-batches AND across query restarts (where
    dropDuplicatesWithinWatermark state would have been lost)."""
    import json

    input_dir = tmp_path / "docs"
    input_dir.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "accepted")

    def drop(name, rows):
        (input_dir / name).write_text("\n".join(json.dumps(r) for r in rows))

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(input_dir))
        )
        sink = FingerprintStoreDedup(spark, store, out)
        q = start_foreach_batch(stream, sink.process_batch, str(tmp_path / ckpt))
        q.awaitTermination(120)

    drop("b1.json", [
        {"doc_id": 1, "text": "alpha"},
        {"doc_id": 2, "text": "beta"},
        {"doc_id": 3, "text": "alpha"},   # batch-internal dup
    ])
    run("ckpt1")

    # second run: NEW checkpoint (simulated restart, no streaming state),
    # re-submits alpha/beta plus one new doc
    drop("b2.json", [
        {"doc_id": 10, "text": "alpha"},  # dup of doc 1
        {"doc_id": 11, "text": "gamma"},
    ])
    run("ckpt2")

    accepted = spark.read.parquet(out)
    rows = {r["text"]: r["doc_id"] for r in accepted.collect()}
    assert rows == {"alpha": 1, "beta": 2, "gamma": 11}
    assert spark.read.parquet(store).count() == 3


_STORE_SINKS = {
    "fingerprint": (FingerprintStoreDedup, ["store", "out"]),
    "lsh": (LshBandStoreDedup, ["sh", "out", "audit"]),
    "winnow": (WinnowFpStoreDedup, ["fp", "out", "audit"]),
    "bbit": (BbitSketchStoreDedup, ["bands", "bits", "out", "audit"]),
}


@pytest.mark.parametrize("sink_name", sorted(_STORE_SINKS))
def test_store_dedup_reads_a_uri_store(spark, tmp_path, sink_name):
    """A store given as a file:// URI is read back like a plain path: the
    second copy of a document, arriving in the next batch, is dropped. A
    document too short to have a signature (doc 3) cannot be a copy and
    is accepted."""
    sink_cls, dirs = _STORE_SINKS[sink_name]
    root = tmp_path.as_uri()
    sink = sink_cls(spark, *(f"{root}/{d}" for d in dirs))
    text = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest where nobody ever goes"
    )
    batches = ([(1, text), (3, "hi there")], [(2, text)])
    for batch_id, rows in enumerate(batches):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        sink.process_batch(batch, batch_id)
    accepted = [r["doc_id"] for r in spark.read.parquet(f"{root}/out").collect()]
    assert sorted(accepted) == [1, 3]


def test_incremental_hll_equals_batch_registers(spark, tmp_path):
    """Streamed register folding == batch register file; re-delivery
    idempotent; compaction preserves the estimate."""
    from scalable_data_ingestion_spark.streaming.incremental import (
        IncrementalUserHLL,
    )

    stream = event_stream_from_parquet(
        spark, f"{SF}/events.parquet", max_files_per_trigger=1
    )
    hll = IncrementalUserHLL(spark, str(tmp_path / "hll"))
    q = hll.attach(stream, checkpoint_dir=str(tmp_path / "hll_ckpt"), once=True)
    q.awaitTermination(120)

    batch_regs = {
        (r.bucket, r.r)
        for r in IncrementalUserHLL._partial(
            spark.read.parquet(f"{SF}/events.parquet")
        ).collect()
    }
    assert {(r.bucket, r.r) for r in hll.registers().collect()} == batch_regs

    est_before = hll.estimate()
    # re-delivery: folding the same batch twice changes nothing
    full = spark.read.parquet(f"{SF}/events.parquet")
    hll.fold_batch(full, 0)
    hll.fold_batch(full, 0)
    assert {(r.bucket, r.r) for r in hll.registers().collect()} == batch_regs
    assert hll.estimate() == est_before

    hll.compact()
    assert hll.estimate() == est_before


def test_incremental_cms_equals_batch_and_never_underestimates(spark, tmp_path):
    from collections import Counter

    from scalable_data_ingestion_spark.streaming.incremental import (
        IncrementalTokenCMS,
    )

    stream = event_stream_from_parquet(
        spark, f"{SF}/events.parquet", max_files_per_trigger=1
    )
    cms = IncrementalTokenCMS(spark, str(tmp_path / "cms"))
    q = cms.attach(stream, checkpoint_dir=str(tmp_path / "cms_ckpt"), once=True)
    q.awaitTermination(120)

    batch_cells = {
        (r.r, r.bucket): r.cell
        for r in IncrementalTokenCMS._partial(
            spark.read.parquet(f"{SF}/events.parquet")
        ).collect()
    }
    merged = {(r.r, r.bucket): r.cell for r in cms.cells().collect()}
    assert merged == batch_cells

    # CMS invariant: estimates never underestimate the true counts
    truth = Counter(
        r.event_type
        for r in spark.read.parquet(f"{SF}/events.parquet").collect()
    )
    for k, n in truth.items():
        assert cms.estimate(k) >= n

    # idempotent re-delivery
    full = spark.read.parquet(f"{SF}/events.parquet")
    cms.fold_batch(full, 0)
    cms.fold_batch(full, 0)
    assert {(r.r, r.bucket): r.cell for r in cms.cells().collect()} == batch_cells

    # compaction folds the partials into one without changing a cell
    cms.compact()
    assert {(r.r, r.bucket): r.cell for r in cms.cells().collect()} == batch_cells


def test_stream_static_join_equals_batch(spark):
    """Stream-static enrichment (events x customer dim) aggregated in
    complete mode reproduces the batch join exactly."""
    from scalable_data_ingestion_spark.catalog import table
    from scalable_data_ingestion_spark.streaming.joins import (
        enrich_events_with_segment,
    )

    events_stream = event_stream_from_parquet(spark, f"{SF}/events.parquet")
    customers = table(spark, SF, "customer")
    got = run_to_memory(
        enrich_events_with_segment(events_stream, customers),
        "t_sst",
        spark,
        output_mode="append",
    )
    expected = enrich_events_with_segment(table(spark, SF, "events"), customers)
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e
    assert len(e) > 0


def test_stream_stream_outer_join_equals_batch(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched rows emit as purchases
    arrive; unmatched clicks emit their null row only when the
    watermark proves no match can come (state eviction). Two triggers
    — the real history, then a far-future watermark-pusher click —
    must reproduce the batch LEFT JOIN exactly, nulls included."""
    import os
    import shutil
    from datetime import timedelta

    from pyspark.sql import functions as F

    from scalable_data_ingestion_spark.catalog import table
    from scalable_data_ingestion_spark.streaming.joins import (
        click_purchase_pairs_outer,
    )

    # withWatermark rejects TIMESTAMP_NTZ; the session runs in UTC so
    # the cast is value-preserving (same note as event_stream_from_parquet)
    ev = table(spark, SF, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    src = tmp_path / "src"
    src.mkdir()

    def stage_one_file(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(str(stage / part), str(src / name))

    stage_one_file(ev, "a_history.parquet")
    mx = ev.agg(F.max("ts")).first()[0]
    # TWO pusher files: watermark set at the end of batch N evicts
    # state only in batch N+1, and availableNow does not tack a
    # no-data batch onto the end — so the second pusher is the batch
    # in which the first pusher's watermark flushes the tail clicks.
    # each pusher file carries BOTH event types: the global watermark is
    # the min over the two watermarked branches, and a click-only pusher
    # is filtered out of the purchases branch, stalling its watermark.
    for i, days in enumerate((30, 60), start=1):
        pusher = spark.createDataFrame(
            [
                (-i, 999999998, "click", mx + timedelta(days=days)),
                (-10 * i, 999999999, "purchase", mx + timedelta(days=days)),
            ],
            schema=ev.schema,
        )
        stage_one_file(pusher, f"b_pusher{i}.parquet")
    now = os.path.getmtime(src / "b_pusher2.parquet")
    os.utime(src / "a_history.parquet", (now - 120, now - 120))
    os.utime(src / "b_pusher1.parquet", (now - 60, now - 60))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = run_to_memory(
        click_purchase_pairs_outer(stream, streaming=True),
        "t_ssj_outer",
        spark,
        output_mode="append",
    )
    g = {
        tuple(r)
        for r in got.filter(F.col("user_id") < 999999000).collect()
    }
    e = {tuple(r) for r in click_purchase_pairs_outer(ev).collect()}
    assert g == e
    # the outer semantics actually exercised: some clicks never convert
    assert any(r[2] is None for r in e)
    assert any(r[2] is not None for r in e)


def test_native_dedup_within_watermark_equals_batch_distinct(spark, tmp_path):
    """Spark's native dropDuplicatesWithinWatermark on a stream that
    re-delivers every event in a second file (at-least-once delivery)
    keeps exactly one copy per event_id — matching batch DISTINCT.
    Contrast with the custom store-dedup sinks (streaming/span_dedup,
    lsh_dedup): the native API bounds its state by the watermark and
    only guarantees dedup of duplicates arriving WITHIN it, while the
    store sinks guarantee first-copy-ever-wins across any gap and any
    restart at the cost of an external store. Both belong in the
    engine; this test pins the native half."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from scalable_data_ingestion_spark.catalog import table

    ev = table(spark, SF, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    src = tmp_path / "src"
    src.mkdir()

    def stage_one_file(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        shutil.move(str(stage / part), str(src / name))

    stage_one_file(ev, "a_first_delivery.parquet")
    stage_one_file(ev, "b_redelivery.parquet")
    now = os.path.getmtime(src / "b_redelivery.parquet")
    os.utime(src / "a_first_delivery.parquet", (now - 60, now - 60))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = stream.withWatermark("ts", "90 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    got = run_to_memory(deduped, "t_native_dedup", spark, output_mode="append")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
