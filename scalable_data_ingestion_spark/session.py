"""SparkSession factory.

Single place that owns Spark configuration so every entry point (tests,
bench, driver harness, CLI) gets the same tuned session.

Scale notes (100 TB / 1000-executor posture):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion based on observed sizes.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. Locally we match core count; on a real cluster this would
  be ~2-3x total cores and AQE handles the rest.
- UTC session timezone so timestamp semantics are stable and match the
  DuckDB oracle.
- Arrow carries every Python boundary: toPandas, pandas UDFs, and the
  local relations ``local_frame`` builds from driver-side rows.

The package pickles its functions by value (see ``__init__``), so
kernels and UDFs run under this session or any other one.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "scalable_data_ingestion_spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No carriage-return progress bars on stdout: the bench harness
        # prints one machine-parsed JSON line and progress noise breaks
        # tail-based parsers (BENCH_r03 regression).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long
        # (catalog.table converts to TimestampType).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | T.StructType
) -> DataFrame:
    """The one way driver-side rows become a relation.

    ``rows`` are tuples in ``schema`` order; ``schema`` is a DDL string or
    a ``StructType``. The rows go column by column into a ``pyarrow.Table``
    of the schema's Arrow types, which Spark plans as a ``LocalTableScan``
    with exact size statistics. A Python list handed to
    ``createDataFrame`` instead becomes a ``parallelize`` RDD scanned by
    Python workers. There is no pandas step: pandas would turn a nullable
    ``bigint`` column holding ``None`` into doubles.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
