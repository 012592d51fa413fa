"""Query + oracle registry.

Every operator the engine claims (SURVEY.md §2) registers here as a
``(spark, sf_dir) -> DataFrame`` callable, optionally paired with an
ANSI-SQL twin that DuckDB can run over the same parquet tables. The
driver's correctness harness consumes these via ``__spark_entry__.py``.

Contract reminders (see __spark_entry__ docstring):
- Column names must match between the Spark result and the oracle SQL
  (the driver sorts columns by name before value-hashing).
- Double-valued outputs are rounded (2 dp for money, 6 dp for ratios)
  on BOTH sides so cross-engine float-summation noise cannot flip the
  hash.
- Any LIMIT/top-k query carries a deterministic total order (unique-key
  tiebreak) so both engines select the same row set.

Cache policy for library callers: query builders persist()
intermediate relations that their own plan references more than once
(MEMORY_AND_DISK, never eagerly materialized) and deliberately do NOT
unpersist — the cache entry must outlive the builder because the
returned DataFrame's plan still references it, and an unpersist-on-
return would silently re-execute the shared subtree per reference.
Spark evicts these LRU under memory pressure, so correctness never
depends on them; but a long-lived session running MANY registered
queries accumulates entries that can evict later queries' working
sets. Harness runners (bench.py, tools/parity_sweep.py) therefore call
``spark.catalog.clearCache()`` between queries; a library caller
running more than a handful of queries in one session should wrap each
build-and-consume in :func:`cache_scope` (the same clear, packaged as
the contract). Single-query sessions need nothing.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
from collections.abc import Callable, Iterator
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Modules that register queries on import.
_QUERY_MODULES = (
    "scalable_data_ingestion_spark.plans.relational",
    "scalable_data_ingestion_spark.plans.relational2",
    "scalable_data_ingestion_spark.plans.relational3",
    "scalable_data_ingestion_spark.plans.windows",
    "scalable_data_ingestion_spark.plans.setops",
    "scalable_data_ingestion_spark.plans.functions_surface",
    "scalable_data_ingestion_spark.plans.events",
    "scalable_data_ingestion_spark.plans.stats",
    "scalable_data_ingestion_spark.operators.enrichment_queries",
    "scalable_data_ingestion_spark.operators.quality_queries",
    "scalable_data_ingestion_spark.operators.dedup",
    "scalable_data_ingestion_spark.operators.winnow",
    "scalable_data_ingestion_spark.operators.reweight",
    "scalable_data_ingestion_spark.operators.incremental_dedup",
    "scalable_data_ingestion_spark.operators.text",
    "scalable_data_ingestion_spark.operators.curation",
    "scalable_data_ingestion_spark.operators.gopher",
    "scalable_data_ingestion_spark.operators.retrieval",
    "scalable_data_ingestion_spark.operators.prefixjoin",
    "scalable_data_ingestion_spark.operators.features",
    "scalable_data_ingestion_spark.operators.softdedup",
    "scalable_data_ingestion_spark.operators.splits",
    "scalable_data_ingestion_spark.operators.corpus",
    "scalable_data_ingestion_spark.operators.clustering",
    "scalable_data_ingestion_spark.operators.analytics",
    "scalable_data_ingestion_spark.operators.scd",
    "scalable_data_ingestion_spark.operators.filtering",
    "scalable_data_ingestion_spark.operators.graph",
    "scalable_data_ingestion_spark.operators.entity",
    "scalable_data_ingestion_spark.operators.pq",
    "scalable_data_ingestion_spark.operators.opq",
    "scalable_data_ingestion_spark.operators.monitor",
    "scalable_data_ingestion_spark.operators.stattests",
    "scalable_data_ingestion_spark.operators.lexical",
    "scalable_data_ingestion_spark.operators.dq",
    "scalable_data_ingestion_spark.operators.timeseries",
    "scalable_data_ingestion_spark.operators.projection",
    "scalable_data_ingestion_spark.operators.similarity",
    "scalable_data_ingestion_spark.operators.multivector",
    "scalable_data_ingestion_spark.operators.sketches",
    "scalable_data_ingestion_spark.operators.multimodal",
    "scalable_data_ingestion_spark.operators.skew",
    "scalable_data_ingestion_spark.operators.layout",
    "scalable_data_ingestion_spark.operators.bpe",
    "scalable_data_ingestion_spark.operators.sgd",
    "scalable_data_ingestion_spark.operators.asof",
    "scalable_data_ingestion_spark.streaming.queries",
    "scalable_data_ingestion_spark.streaming.span_dedup",
    "scalable_data_ingestion_spark.streaming.joins",
    "scalable_data_ingestion_spark.sources.api_queries",
)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optional oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


@contextlib.contextmanager
def cache_scope(spark: SparkSession) -> Iterator[SparkSession]:
    """Cache lifecycle for library callers (the module-docstring policy
    as a helper): build a registered query AND run its action inside
    this scope; every cache the builder persisted is dropped on exit.

        with registry.cache_scope(spark):
            rows = registry.queries()["dd_minhash_lsh_pairs"](spark, sf).collect()

    Builders cannot unpersist their own caches (the returned DataFrame
    is lazy — its plan still references the persisted subtrees, and the
    consuming action runs after the builder returns), so the lifecycle
    belongs to the consumer. The scope clears the session's WHOLE cache
    (``spark.catalog.clearCache()``) — per-entry tracking would need
    every one of the ~150 persist sites routed through a choke point
    for no behavioural difference to a caller that scopes one query at
    a time, which is the contract. An application holding its OWN
    long-lived caches in the same session should run registry queries
    in a separate SparkSession (cheap: sessions share the SparkContext
    via ``spark.newSession()`` but cache registration is per-context,
    so truly isolated caching needs a separate context/process — or
    simply re-persist after the scope).

    Exception-safe: caches are dropped even when the query raises
    (e.g. dd_prefix_jaccard_pairs' PJ_CANDIDATE_CAP guard).
    """
    try:
        yield spark
    finally:
        spark.catalog.clearCache()


def load_all() -> None:
    """Import every query module (idempotent)."""
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as exc:
            # Allow partially-built trees during development, but only
            # for the query modules themselves going missing.
            if exc.name and not exc.name.startswith("scalable_data_ingestion_spark"):
                raise


def _last_checked_round(root: Path | None = None) -> dict[str, int]:
    """For each query name, the highest N among the ``CORRECTNESS_r<N>.json``
    records under ``root`` (default: the repo checkout) that value-checked
    it. Read fresh on every ordering call; the files are tiny. Outside a
    checkout no record is found and the result is empty."""
    root = root or Path(__file__).resolve().parents[1]
    last: dict[str, int] = {}
    for f in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name)
        if not m:
            continue
        try:
            names = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for name in names:
            last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _ordered(mapping: dict[str, object], root: Path | None = None) -> dict:
    """``mapping`` least-recently-checked first: names no CORRECTNESS
    record holds lead, then names by the round that last checked them,
    oldest first; ties keep registration order.

    The correctness harness checks the first 50 names, so every new
    record moves that window on to the next-stalest names by itself.
    New names lead (never checked), so registering at most 50 per round
    keeps each name's first check within one round of landing."""
    last = _last_checked_round(root)
    return {k: mapping[k] for k in sorted(mapping, key=lambda k: last.get(k, 0))}


def queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLES)
