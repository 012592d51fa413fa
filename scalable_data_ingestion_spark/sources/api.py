"""REST API source (S1-S3, src/ingestion.py:30-190).

Driver-side fetch (rate-limited, retried) -> ``session.local_frame``
(an Arrow local relation, no Python-RDD scan) -> pure-expression reshape
into the A1 order schema. The reshape (S2, src/ingestion.py:110-168) and
product-name synthesis (S3, :170-190) are column expressions, not
per-row Python.

Offline behavior: with no network (or ``offline=True``) the source
yields deterministic synthetic posts with the JSONPlaceholder shape, so
the pipeline is runnable and testable hermetically.

Documented divergence (SURVEY.md §7): the reference's fallback product
uses Python ``hash(title) % 5`` (:189) which is process-seeded and
unstable; we use ``pmod(xxhash64(title), 5)`` — deterministic across
runs and engines.

Scale note: a driver-side fetch is correct for control-plane-sized
pulls (the reference caps at ~100 records). The Spark-native path for
large feeds is the registered Python DataSource in
``rest_datasource.py`` which partitions the fetch across executors.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

POSTS_SCHEMA = "userId bigint, id bigint, title string, body string"

# S3 keyword -> product mapping (src/ingestion.py:174-182), first match
# wins in dict order; fallback list (:188-190).
PRODUCT_KEYWORDS = (
    ("phone", "iPhone 15"),
    ("computer", "MacBook Pro"),
    ("music", "AirPods Pro"),
    ("watch", "Apple Watch"),
    ("tablet", "iPad Air"),
    ("game", "Nintendo Switch"),
    ("book", "Kindle Paperwhite"),
)
FALLBACK_PRODUCTS = ("iPhone 15", "MacBook Pro", "AirPods Pro", "iPad Air", "Apple Watch")

_FAKE_TITLE_WORDS = ("phone", "computer", "music", "watch", "tablet", "game", "book", "misc")


def fake_posts(limit: int) -> list[dict]:
    """Deterministic JSONPlaceholder-shaped posts for offline runs."""
    return [
        {
            "userId": (i - 1) % 10 + 1,
            "id": i,
            "title": f"post about {_FAKE_TITLE_WORDS[i % len(_FAKE_TITLE_WORDS)]} {i}",
            "body": f"synthetic body {i}",
        }
        for i in range(1, limit + 1)
    ]


class ApiSource:
    """Rate-limited, retrying REST fetcher (S1, src/ingestion.py:30-107;
    retry/backoff src/utils.py:138-149)."""

    def __init__(
        self,
        base_url: str = "https://jsonplaceholder.typicode.com",
        min_interval_s: float = 1.0,
        retries: int = 3,
        retry_delay_s: float = 5.0,
        timeout_s: float = 30.0,
        offline: bool = False,
    ):
        self.base_url = base_url.rstrip("/")
        self.min_interval_s = min_interval_s
        self.retries = retries
        self.retry_delay_s = retry_delay_s
        self.timeout_s = timeout_s
        self.offline = offline
        self._last_request = 0.0

    def _rate_limit(self) -> None:
        wait = self.min_interval_s - (time.monotonic() - self._last_request)
        if wait > 0:
            time.sleep(wait)
        self._last_request = time.monotonic()

    def fetch_posts(self, limit: int = 100) -> list[dict]:
        if self.offline:
            return fake_posts(limit)
        try:
            import requests
        except ImportError:
            return fake_posts(limit)

        delay = self.retry_delay_s
        for attempt in range(self.retries):
            try:
                self._rate_limit()
                resp = requests.get(
                    f"{self.base_url}/posts",
                    params={"_limit": limit},
                    timeout=self.timeout_s,
                )
                resp.raise_for_status()
                return resp.json()
            except Exception:
                if attempt == self.retries - 1:
                    # degrade to the deterministic offline feed rather
                    # than failing the whole pipeline run
                    return fake_posts(limit)
                time.sleep(delay)
                delay *= 2
        return fake_posts(limit)

    def connectivity_ok(self) -> bool:
        """Real connectivity probe (the reference's health check calls a
        method that doesn't exist and always errors — SURVEY.md §2.11 X5;
        this implements what it intended)."""
        if self.offline:
            return True
        try:
            import requests

            resp = requests.get(
                f"{self.base_url}/posts", params={"_limit": 1}, timeout=5
            )
            return resp.ok
        except Exception:
            return False


def product_name_expr(title):
    """S3: keyword -> product, else deterministic hash fallback."""
    lowered = F.lower(title)
    expr = None
    for kw, product in PRODUCT_KEYWORDS:
        branch = F.when(lowered.contains(kw), product)
        expr = branch if expr is None else expr.when(lowered.contains(kw), product)
    fallback = F.array(*[F.lit(p) for p in FALLBACK_PRODUCTS])[
        F.pmod(F.xxhash64(title), len(FALLBACK_PRODUCTS)).cast("int")
    ]
    return expr.otherwise(fallback)


def posts_to_orders(spark: SparkSession, posts: list[dict]) -> DataFrame:
    """S2 reshape (src/ingestion.py:131-149) as one expression select."""
    rows = [
        (p.get("userId"), p.get("id"), p.get("title"), p.get("body")) for p in posts
    ]
    df = local_frame(spark, rows, POSTS_SCHEMA)
    price = F.round(50 + (F.col("id") % 20).cast("double") * 25.99, 2)
    return df.select(
        F.format_string("API-%04d", F.col("id")).alias("order_id"),
        F.format_string("Customer %d", F.col("userId")).alias("customer_name"),
        F.format_string("customer%d@example.com", F.col("userId")).alias("customer_email"),
        product_name_expr(F.col("title")).alias("product"),
        F.lit("Electronics").alias("product_category"),
        F.lit(1).cast("bigint").alias("quantity"),
        price.alias("price"),
        F.lit(0.0).alias("discount"),
        F.round(price * 1 - 0.0, 2).alias("total_amount"),
        F.current_date().cast("string").alias("order_date"),
        F.lit("api_rest").alias("source"),
        F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
            "ingested_at"
        ),
        F.col("id").alias("api_post_id"),
    )
