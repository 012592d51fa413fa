"""Parquet warehouse (replaces the reference's SQLite store, SURVEY.md §7).

Tables under a configurable root:
- ``orders``        — upsert-by-order_id semantics (S7, src/storage.py:114-228):
                      append + keep-latest-on-read view; no per-row INSERT loop,
                      writes are partition-parallel parquet, hive-partitioned
                      by ``order_month`` (derived from ``order_date``).
- ``pipeline_runs`` — one row per run (S9, :266-298).
- ``data_quality_metrics`` — long-format metric rows (S10, :300-331).

Design decisions (SURVEY.md §7): plain parquet, zero extra deps; the
upsert is append + dedup-on-read (latest ``processed_at`` wins) with an
explicit ``compact()`` to materialize the deduped state. Delta MERGE is
the documented upgrade path, not a dependency.

Every physical rewrite (``compact``, ``forget_customer``,
``vacuum_deletes``, the ``streaming/incremental.py`` stores' ``compact``)
is one ``rewrite_table``: a Spark write into ``<table>__staging``, then
a swap of the whole table's or only the named partitions' directories.

``save_orders`` is one write action and ``summary_report`` two (one
whole-table aggregate, one categorical collect).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterable
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def rewrite_table(
    df: DataFrame,
    path: str,
    partition_col: str | None = None,
    partitions: Iterable | None = None,
) -> None:
    """Replace the parquet table at ``path`` with ``df``, which may read
    ``path`` itself: one Spark write into ``<path>__staging``, then a
    directory swap. Without ``partitions`` the whole table is swapped.
    With ``partitions`` (``partition_col`` values, used unescaped as
    directory names; ``None`` is Spark's NULL-key default partition) only
    those directories are replaced by their staged rows, or dropped when
    none were staged; all other partitions keep their files. Staging is
    deleted once the swap has succeeded."""
    staging = f"{path}__staging"
    writer = df.write.mode("overwrite")
    (writer.partitionBy(partition_col) if partition_col else writer).parquet(staging)
    if partitions is None:
        shutil.rmtree(path)
        os.rename(staging, path)
        return
    for value in partitions:
        value = "__HIVE_DEFAULT_PARTITION__" if value is None else value
        name = f"{partition_col}={value}"
        if os.path.isdir(f"{path}/{name}"):
            shutil.rmtree(f"{path}/{name}")
        if os.path.isdir(f"{staging}/{name}"):
            os.rename(f"{staging}/{name}", f"{path}/{name}")
    shutil.rmtree(staging)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True)

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _exists(self, name: str) -> bool:
        p = self._path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    # ---------------------------------------------------------------- orders
    MONTH_COL = "order_month"

    def save_orders(self, df: DataFrame) -> None:
        """S7 upsert: stamp processed_at, default-fill missing sink
        columns (src/storage.py:142-150), append.

        The table is hive-partitioned by month of ``order_date``
        (SURVEY.md §7 design decision): a date-bounded read then scans
        only the matching ``order_month=`` directories — at 100 TB this
        is the difference between a month's worth of files and the whole
        table. A frame without ``order_date`` is written unpartitioned.
        """
        defaults = {"quantity": 1, "price": 0.0, "total_amount": 0.0}
        for col, default in defaults.items():
            if col not in df.columns:
                df = df.withColumn(col, F.lit(default))
        if "order_id" not in df.columns:
            raise ValueError("orders frame requires order_id")
        df = df.withColumn("processed_at", F.current_timestamp())
        writer = df.write
        if "order_date" in df.columns:
            # Cluster rows by their hive partition before the write: one
            # task then owns each partition directory instead of every
            # task appending a sliver to every directory — measured 4.5x
            # faster at sf0.1 (6.5 -> 1.5 s for ~80 month dirs) with the
            # same file count, and at 100 TB it is the difference
            # between files-per-month = tasks x months and = months.
            month = F.date_format("order_date", "yyyy-MM")
            df = df.withColumn(self.MONTH_COL, month).repartition(self.MONTH_COL)
            writer = df.write.partitionBy(self.MONTH_COL)
        writer.mode("append").parquet(self._path("orders"))

    def _raw_orders(self) -> DataFrame:
        return self.spark.read.parquet(self._path("orders"))

    @staticmethod
    def _latest(df: DataFrame) -> DataFrame:
        """Upsert-on-read: latest processed_at per order_id wins."""
        w = W.partitionBy("order_id").orderBy(F.col("processed_at").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def read_orders(
        self, order_by: str = "processed_at", desc: bool = True, limit: int | None = None
    ) -> DataFrame:
        """S8 read-back with upsert-on-read semantics: latest
        processed_at per order_id wins. Column-based ordering — the
        reference's f-string SQL interpolation (src/storage.py:244-246,
        an injection vector) is deliberately not reproduced."""
        df = self._latest(self._raw_orders())
        if self.MONTH_COL in df.columns:
            df = df.drop(self.MONTH_COL)  # derived partition key, not payload
        col = F.col(order_by)
        df = df.orderBy(col.desc() if desc else col.asc())
        return df.limit(limit) if limit else df

    def read_orders_month(self, month: str) -> DataFrame:
        """Month-bounded read (``month`` = 'yyyy-MM'): the filter lands
        on the hive partition column, so the scan's PartitionFilters
        prune to one directory — asserted by test_plan_quality. Assumes
        order_date (hence the month) is immutable per order_id, so the
        per-month dedup window still implements upsert-on-read."""
        df = self._raw_orders().filter(F.col(self.MONTH_COL) == month)
        return self._latest(df).drop(self.MONTH_COL)

    def compact(self) -> None:
        """Materialize the deduped orders state (one staged rewrite),
        preserving the month partitioning."""
        current = self._latest(self._raw_orders())
        partitioned = self.MONTH_COL in current.columns
        rewrite_table(
            current, self._path("orders"), self.MONTH_COL if partitioned else None
        )

    def forget_customer(self, email: str) -> int:
        """Right-to-be-forgotten: remove every order row belonging to
        ``email``, rewriting ONLY the month partitions that contain the
        subject's data, not the table.

        At 100 TB the erasure cost is bounded by the subject's partition
        footprint — typically a handful of month directories — while
        every other file is untouched (verified byte-for-byte in
        test_forget_customer_rewrites_only_affected_partitions); a NULL
        ``order_date``'s default partition is one more month. Two actions:
        a per-month count of the subject's rows, then one staged write.
        Returns the number of rows removed.
        """
        raw = self._raw_orders()
        if "customer_email" not in raw.columns:
            return 0
        target = F.col("customer_email") == email
        keep = raw.filter(~target | F.col("customer_email").isNull())
        if self.MONTH_COL not in raw.columns:
            removed = raw.filter(target).count()
            if removed:
                rewrite_table(keep, self._path("orders"))
            return removed

        hits = dict(raw.filter(target).groupBy(self.MONTH_COL).count().collect())
        if hits:
            month = F.col(self.MONTH_COL)
            affected = month.isin([m for m in hits if m is not None])
            if None in hits:
                affected = affected | month.isNull()
            rewrite_table(
                keep.filter(affected), self._path("orders"), self.MONTH_COL, hits
            )
        return sum(hits.values())

    # --------------------------------------------------------- deletion vectors
    # The O(tombstones) delete path complementing forget_customer's
    # partition rewrite: deletes append key tombstones to a side table
    # (no data file is touched), reads anti-join them out, and
    # vacuum_deletes folds them into the next physical rewrite. This is
    # the lakehouse deletion-vector pattern (Delta/Iceberg positional
    # deletes, re-expressed key-wise for plain parquet): at 100 TB a
    # delete of K rows writes O(K) bytes instead of rewriting the
    # partitions that contain them, and the read-side cost is one
    # BROADCAST anti-join (tombstones are small by construction —
    # vacuum before they aren't).
    DELETES = "orders__deletes"

    def delete_orders_where(self, predicate: Column) -> int:
        """Append tombstones for every LIVE order matching ``predicate``.
        Returns the number of order_ids tombstoned. Zero data-file
        rewrites — the delete is not visible to ``read_orders`` (raw
        path) but is to ``read_orders_live``."""
        doomed = (
            self.read_orders_live()
            .filter(predicate)
            .select("order_id")
            .distinct()
        )
        # round-10 (guide §5): the count and the tombstone write share
        # one evaluation of the doomed set — unpersisted, the full
        # upsert-window pass over the orders table ran twice (once for
        # count, once for the write).
        doomed = doomed.persist()
        try:
            n = doomed.count()
            if n:
                doomed.write.mode("append").parquet(self._path(self.DELETES))
        finally:
            doomed.unpersist()
        return n

    def read_orders_live(self) -> DataFrame:
        """Upsert-on-read orders minus tombstoned keys (one broadcast
        anti-join; no-op when no deletes exist)."""
        df = self._latest(self._raw_orders())
        if self.MONTH_COL in df.columns:
            df = df.drop(self.MONTH_COL)
        if self._exists(self.DELETES):
            dv = self.spark.read.parquet(self._path(self.DELETES)).distinct()
            df = df.join(F.broadcast(dv), "order_id", "left_anti")
        return df

    def vacuum_deletes(self) -> None:
        """Fold tombstones into a physical rewrite and clear them —
        the compaction that bounds read-side anti-join state."""
        if not self._exists(self.DELETES):
            return
        live = self.read_orders_live()
        partitioned = self.MONTH_COL in self._raw_orders().columns
        if partitioned:
            live = live.withColumn(
                self.MONTH_COL, F.date_format("order_date", "yyyy-MM")
            )
        rewrite_table(
            live, self._path("orders"), self.MONTH_COL if partitioned else None
        )
        shutil.rmtree(self._path(self.DELETES), ignore_errors=True)

    # ------------------------------------------------------------- run/metrics
    def save_pipeline_run(self, run: dict) -> None:
        row = {
            "run_id": str(run.get("run_id")),
            "start_time": str(run.get("start_time", "")),
            "end_time": str(run.get("end_time", "")),
            "status": str(run.get("status", "unknown")),
            "records_processed": int(run.get("records_processed", 0)),
            "records_failed": int(run.get("records_failed", 0)),
            "error_message": str(run.get("error_message", "") or ""),
        }
        self.spark.createDataFrame([row]).write.mode("append").parquet(
            self._path("pipeline_runs")
        )

    def save_quality_metrics(self, run_id: str, metrics: dict) -> None:
        now = datetime.now(timezone.utc).isoformat()
        rows = [
            {
                "run_id": run_id,
                "metric_name": str(k),
                "metric_value": float(v),
                "metric_type": "quality",
                "source_table": "orders",
                "measured_at": now,
            }
            for k, v in metrics.items()
            if isinstance(v, (int, float))
        ]
        if rows:
            self.spark.createDataFrame(rows).write.mode("append").parquet(
                self._path("data_quality_metrics")
            )

    def table(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    # ------------------------------------------------------------- bucketing
    def save_bucketed(
        self, df: DataFrame, name: str, key: str, buckets: int = 8
    ) -> DataFrame:
        """Write ``df`` as a bucketed (and bucket-sorted) catalog table.

        Bucketing is the co-located-join strategy at warehouse scale:
        two tables bucketed on the same key with the same bucket count
        join with ZERO Exchange — each task reads matching bucket files
        from both sides, so a 100 TB fact/fact join costs no shuffle at
        all (asserted by tests/test_scale_features.py). The data lands
        under the warehouse root as ordinary parquet; the bucket spec
        lives in the session catalog (Spark requires ``saveAsTable``
        for bucketed writes — a plain ``.parquet(path)`` cannot record
        the spec).
        """
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, key)
            .sortBy(key)
            .option("path", self._path(name))
            .format("parquet")
            .saveAsTable(name)
        )
        return self.spark.table(name)

    # ---------------------------------------------------------------- stats
    def stats(self) -> dict:
        """S12 (src/storage.py:333-376): row counts, today's orders,
        avg quality metric — one pass per table."""
        out: dict = {}
        if self._exists("orders"):
            orders = self.read_orders(order_by="order_id", desc=False)
            row = orders.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (F.to_date("processed_at") == F.current_date()).cast("long")
                ).alias("today"),
            ).first()
            out["total_orders"] = int(row["n"])
            out["orders_today"] = int(row["today"] or 0)
        else:
            out["total_orders"] = 0
            out["orders_today"] = 0
        if self._exists("pipeline_runs"):
            out["total_pipeline_runs"] = self.table("pipeline_runs").count()
        else:
            out["total_pipeline_runs"] = 0
        if self._exists("data_quality_metrics"):
            avg_q = (
                self.table("data_quality_metrics")
                .filter(F.col("metric_name") == "overall_score")
                .agg(F.round(F.avg("metric_value"), 6))
                .first()[0]
            )
            out["avg_quality_score"] = float(avg_q) if avg_q is not None else None
        else:
            out["avg_quality_score"] = None
        out["warehouse_size_bytes"] = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for dirpath, _, files in os.walk(self.root)
            for f in files
        )
        return out

    # --------------------------------------------------------------- exports
    EXPORT_FORMATS = ("csv", "json", "parquet", "orc")

    def export(
        self, df: DataFrame, name: str, formats: tuple[str, ...] = ("csv", "json", "parquet")
    ) -> dict[str, str]:
        """S11 (src/storage.py:392-468): timestamped export dirs; parquet
        is first-class here, not optional. An unknown format raises
        ``ValueError`` before anything is written."""
        unknown = [fmt for fmt in formats if fmt not in self.EXPORT_FORMATS]
        if unknown:
            raise ValueError(
                f"unsupported export format(s) {unknown}; choose from {self.EXPORT_FORMATS}"
            )
        stamp = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
        out: dict[str, str] = {}
        export_root = self._path("exports")
        os.makedirs(export_root, exist_ok=True)
        for fmt in formats:
            path = f"{export_root}/{name}_{stamp}.{fmt}"
            writer = df.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                writer = writer.option("header", True)
            writer.save(path)
            out[fmt] = path
        return out

    # ---------------------------------------------------------- summary report
    def summary_report(self, df: DataFrame, path: str | None = None) -> dict:
        """A8 (src/storage.py:485-530): record count, numeric describe +
        median, categorical top-10, BI frequency tables, revenue stats.

        Two actions: one ``df.agg`` computes the record count, every
        numeric column's describe + median and the revenue block, and one
        collect computes every string column's top-10. The median is
        exact via percentile (the reference's pandas median is also
        exact; percentile_approx is the knob to flip at 100 TB)."""
        import pyspark.sql.types as Ty

        numeric_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, Ty.NumericType)
        ]
        string_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, Ty.StringType)
        ][:8]

        report: dict = {
            "generated_at": datetime.now(timezone.utc).isoformat(),
            "total_records": None,
            "numeric": {c: {} for c in numeric_cols},
            "categorical": {},
        }
        revenue: dict = {}
        # One pass: every (target dict, key, aggregate) lands in one df.agg.
        stats: list[tuple[dict, str, Column]] = [
            (report, "total_records", F.count(F.lit(1)))
        ]
        for c in numeric_cols:
            col, out = F.col(c), report["numeric"][c]
            stats += [
                (out, "count", F.count(col)),
                (out, "mean", F.round(F.avg(col), 6)),
                (out, "std", F.round(F.stddev(col), 6)),
                (out, "min", F.round(F.min(col).cast("double"), 6)),
                (out, "max", F.round(F.max(col).cast("double"), 6)),
                (out, "median", F.round(F.percentile(col, F.lit(0.5)), 6)),
            ]
        if "total_amount" in df.columns:
            stats += [
                (revenue, "sum", F.round(F.sum("total_amount"), 2)),
                (revenue, "mean", F.round(F.avg("total_amount"), 6)),
                (revenue, "max", F.round(F.max("total_amount"), 2)),
                (revenue, "min", F.round(F.min("total_amount"), 2)),
            ]
        row = df.agg(*[agg.alias(f"_{i}") for i, (_, _, agg) in enumerate(stats)]).first()
        for (out, key, _), value in zip(stats, row):
            out[key] = value

        if string_cols:
            # Single pass for ALL categorical columns: melt via stack ->
            # one groupBy(col_name, val) -> per-column window top-10.
            # The round-1 version ran one groupBy job per column; this is
            # one job no matter how many string columns the table has.
            stack_expr = "stack({n}, {args}) AS (col_name, val)".format(
                n=len(string_cols),
                args=", ".join(f"'{c}', {c}" for c in string_cols),
            )
            counts = (
                df.select(F.expr(stack_expr))
                .groupBy("col_name", "val")
                .agg(F.count(F.lit(1)).alias("count"))
            )
            w = W.partitionBy("col_name").orderBy(F.col("count").desc(), F.col("val"))
            top_rows = (
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 10)
                .collect()
            )
            for c in string_cols:
                col_top = sorted(
                    (r for r in top_rows if r["col_name"] == c), key=lambda r: r["rn"]
                )
                report["categorical"][c] = {
                    "distinct_in_top10": len(col_top),
                    "top_values": {str(r["val"]): r["count"] for r in col_top},
                }

        if revenue:
            report["revenue"] = revenue

        if path:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            with open(path, "w") as fh:
                json.dump(report, fh, indent=2, default=str)
        return report
