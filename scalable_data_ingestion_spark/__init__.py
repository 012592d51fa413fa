"""scalable_data_ingestion_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference `Amruth22/Scalable-Data-Ingestion`
(pandas + SQLite single-process ETL; see SURVEY.md), re-expressed as
lazy DataFrame plans optimized by Catalyst, plus the relational /
streaming / LLM-data-pipeline surface the reference lacks.

Layout
------
- ``session``    SparkSession factory (AQE, UTC, Arrow, tuned shuffle).
- ``catalog``    Parquet table loaders for the test star schema.
- ``registry``   (name -> query callable, name -> oracle SQL) registries.
- ``plans``      Relational query library (joins/aggs/windows/set-ops).
- ``operators``  Cleaning / enrichment / dedup / text / similarity ops.
- ``quality``    Single-pass data-quality scoring (validation parity).
- ``sources``    Batch + streaming ingestion (files, REST).
- ``storage``    Parquet warehouse writers, exports, summary reports.
- ``streaming``  Structured Streaming ingestion + event-time windows.
- ``pipeline``   Orchestrator + CLI (ingest -> validate -> transform -> store).

Importing the package registers it with ``cloudpickle`` to be pickled
by value, so Python workers run its kernels and UDFs without importing
it: the code works from any working directory, under any SparkSession
(not only ``session.get_spark``'s), and on executors where the package
is not installed.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])
