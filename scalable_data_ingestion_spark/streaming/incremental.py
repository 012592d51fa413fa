"""Incremental materialized-view maintenance over the event stream.

The capability that makes a 100 TB/day pipeline affordable: keep a
rollup (here: daily per-event-type activity) continuously up to date by
folding in each micro-batch's PARTIAL aggregate, instead of
re-aggregating history on every refresh. Refresh cost tracks the batch
size; history is touched only at read time, and only in its
pre-reduced (days x event_types) form.

Exactly-once without a transaction log: foreachBatch can re-deliver a
batch after a failure, so naive read-modify-write double-counts. Here
each batch writes its partial aggregate to a partition directory keyed
by ``batch_id`` (dynamic partition overwrite) — a re-delivered batch
OVERWRITES its own partials, so the merged view is idempotent under
any number of retries. This is the plain-parquet equivalent of the
Delta MERGE txn (SURVEY.md §7 names MERGE as the optional upgrade).

Scale notes:
- Per-batch work: one partial aggregate of the batch (map-side
  combine; dimension-sized result) + one small parquet write. No
  shuffle of history, ever.
- The reader merges partials with one dimension-keyed aggregate whose
  input is #batches x #cells rows — compact() folds them into a
  single consolidated partial (also written under a reserved batch_id
  partition) so the partial count stays bounded on long-running
  streams.
- The same shape maintains any algebraic aggregate (sum/count/min/
  max); averages ship as (sum, count) pairs — the classic
  partial-aggregate contract Catalyst itself uses map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..storage.warehouse import rewrite_table
from .ingest import start_foreach_batch

# reserved batch_id partition for compacted history
_COMPACT_ID = -1


class BatchPartialStore:
    """A parquet store of per-micro-batch partial aggregates, one
    ``batch_id`` partition per batch. A subclass supplies ``_partial``
    (a micro-batch's partial, with no ``batch_id`` column) and
    ``merged`` (every stored partial combined, in the partial's
    schema)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def merged(self) -> DataFrame:
        raise NotImplementedError

    def fold_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink: write this batch's partial under its own
        batch_id partition (dynamic overwrite: idempotent under
        re-delivery)."""
        partial = self._partial(batch_df).withColumn("batch_id", F.lit(int(batch_id)))
        (
            partial.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path)
        )

    def attach(self, stream: DataFrame, checkpoint_dir: str, once: bool = True):
        return start_foreach_batch(stream, self.fold_batch, checkpoint_dir, once)

    def compact(self) -> None:
        """Fold all partials into the reserved compacted partition and
        drop the per-batch ones, bounding reader fan-in on long streams."""
        merged = self.merged().withColumn("batch_id", F.lit(_COMPACT_ID))
        rewrite_table(merged, self.path, "batch_id")


class IncrementalDailyActivity(BatchPartialStore):
    """Continuously-maintained daily (day, event_type) activity rollup."""

    @staticmethod
    def _partial(batch_df: DataFrame) -> DataFrame:
        ts = F.col("ts")
        if isinstance(batch_df.schema["ts"].dataType, T.TimestampNTZType):
            ts = ts.cast("timestamp")
        return batch_df.groupBy(
            F.date_trunc("day", ts).cast("date").alias("day"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )

    def merged(self) -> DataFrame:
        """Merged rollup: one dimension-keyed aggregate over the stored
        partials (input is #batches x #cells rows, never raw events)."""
        partials = self.spark.read.parquet(self.path)
        return partials.groupBy("day", "event_type").agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
        )

    view = merged


# ---------------------------------------------------------------------------
# Incrementally-maintained HyperLogLog register store: the sketch
# counterpart of the daily rollup above. Each micro-batch folds its
# (bucket, max rho) partial registers under a batch_id partition —
# MAX is algebraic and commutative, so re-delivery is idempotent the
# same way, and the merged register file is IDENTICAL to the batch
# computation over all data seen so far (operators/sketches.py
# sk_hll_user_estimate value-checks the register math itself).
#
# This is how a 100 TB/day pipeline keeps "distinct users ever" /
# "distinct URLs crawled" live: per batch cost is one 256-cell partial;
# the merge reads #batches x <=256 rows, never raw history.
# ---------------------------------------------------------------------------
class IncrementalUserHLL(BatchPartialStore):
    """Continuously-maintained HLL register file over ``user_id``."""

    @staticmethod
    def _partial(batch_df: DataFrame) -> DataFrame:
        md5 = F.md5(F.col("user_id").cast("string"))
        bucket = F.conv(F.substring(md5, 1, 2), 16, 10).cast("int")
        w = F.conv(F.substring(md5, 3, 13), 16, 10).cast("bigint")
        pos = F.instr(F.lpad(F.bin(w), 52, "0"), "1")
        rho = F.when(pos == 0, 53).otherwise(pos)
        return (
            batch_df.select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("r"))
        )

    def merged(self) -> DataFrame:
        """Merged register file (== the batch register file over all
        data folded so far)."""
        return (
            self.spark.read.parquet(self.path)
            .groupBy("bucket")
            .agg(F.max("r").alias("r"))
        )

    registers = merged

    def estimate(self) -> float:
        """HLL estimate (with small-range correction) from the merged
        registers — same arithmetic as sk_hll_user_estimate."""
        from math import log

        from ..operators.sketches import HLL_ALPHA, HLL_M, _POW53

        rows = self.merged().collect()
        s = sum(1 << (53 - r.r) for r in rows)
        v = HLL_M - len(rows)
        s += v * _POW53
        raw = HLL_ALPHA * HLL_M * HLL_M * float(_POW53) / s
        if v > 0 and raw <= 2.5 * HLL_M:
            return HLL_M * log(HLL_M / v)
        return raw


# ---------------------------------------------------------------------------
# Incrementally-maintained count-min sketch over the event-type stream:
# the frequency-counter sibling of the HLL store above. CMS cells are
# SUMS, so per-batch partials written under batch_id partitions merge
# by addition — but unlike MAX, re-delivered partials WOULD
# double-count if appended; the dynamic-partition overwrite keyed on
# batch_id is what makes re-delivery idempotent here (the same
# mechanism, now load-bearing). The merged counter table equals the
# batch-built sketch exactly (operators/sketches.py value-checks the
# cell math itself).
# ---------------------------------------------------------------------------
class IncrementalTokenCMS(BatchPartialStore):
    """Continuously-maintained 3x64 count-min sketch over event_type."""

    DEPTH, WIDTH = 3, 64

    @classmethod
    def _partial(cls, batch_df: DataFrame) -> DataFrame:
        # All DEPTH hash rows emitted per event in ONE pass over the
        # micro-batch (a per-depth union of selects scans the batch
        # DEPTH times per trigger).
        def bucket(r: int) -> F.Column:
            md5 = F.md5(F.concat(F.lit(f"{r}:"), F.col("event_type")))
            return (
                F.conv(F.substring(md5, 1, 2), 16, 10).cast("int")
                % cls.WIDTH
            )

        arr = F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"), bucket(r).alias("bucket")
                )
                for r in range(cls.DEPTH)
            ]
        )
        return (
            batch_df.select(F.explode(arr).alias("_c"))
            .select("_c.*")
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("cell"))
        )

    def merged(self) -> DataFrame:
        return (
            self.spark.read.parquet(self.path)
            .groupBy("r", "bucket")
            .agg(F.sum("cell").cast("bigint").alias("cell"))
        )

    cells = merged

    def estimate(self, key: str) -> int:
        """Point query: min over the DEPTH probed cells."""
        import hashlib

        cells = {(r.r, r.bucket): r.cell for r in self.merged().collect()}
        est = None
        for r in range(self.DEPTH):
            h = hashlib.md5(f"{r}:{key}".encode()).hexdigest()
            b = int(h[:2], 16) % self.WIDTH
            c = cells.get((r, b), 0)
            est = c if est is None else min(est, c)
        return int(est or 0)
