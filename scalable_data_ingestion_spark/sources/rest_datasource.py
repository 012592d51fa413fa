"""REST API as a first-class Spark 4 Python DataSource (S1 at scale).

The driver-side fetch in ``api.py`` is right for control-plane-sized
pulls; this is the idiomatic-Spark path for large feeds: a registered
``DataSource`` whose reader *partitions the keyspace across executors*
— each task fetches its own page range, so ingest parallelism scales
with the cluster, not the driver.

Usage:
    from scalable_data_ingestion_spark.sources.rest_datasource import register
    register(spark)
    df = (spark.read.format("rest_posts")
          .option("limit", 1000).option("page_size", 100)
          .option("offline", True).load())

Offline mode emits the same deterministic posts as ``api.fake_posts``;
online mode pages through ``{base_url}/posts``. Built on the public
pyspark.sql.datasource API (Spark 4); import-guarded so the engine
still works if the API is unavailable.
"""

from __future__ import annotations

try:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    _HAS_DATASOURCE_API = True
except ImportError:  # pragma: no cover - Spark < 4
    _HAS_DATASOURCE_API = False

    class DataSource:  # type: ignore[no-redef]
        pass

    class DataSourceReader:  # type: ignore[no-redef]
        pass

    class SimpleDataSourceStreamReader:  # type: ignore[no-redef]
        pass

    class InputPartition:  # type: ignore[no-redef]
        def __init__(self, value):
            self.value = value


POSTS_DDL = "userId bigint, id bigint, title string, body string"


class _PageRange(InputPartition):
    def __init__(self, start_id: int, end_id: int):
        self.start_id = start_id
        self.end_id = end_id


class RestPostsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.limit = int(options.get("limit", 100))
        self.page_size = int(options.get("page_size", 100))
        self.offline = str(options.get("offline", "true")).lower() != "false"
        self.base_url = options.get("base_url", "https://jsonplaceholder.typicode.com")

    def partitions(self):
        parts = []
        start = 1
        while start <= self.limit:
            end = min(start + self.page_size - 1, self.limit)
            parts.append(_PageRange(start, end))
            start = end + 1
        return parts or [_PageRange(1, 0)]

    def read(self, partition: _PageRange):
        # runs on the executor: fetch only this partition's id range.
        if self.offline:
            from .api import fake_posts

            for post in fake_posts(partition.end_id):
                if post["id"] >= partition.start_id:
                    yield (post["userId"], post["id"], post["title"], post["body"])
            return
        import requests

        start = (partition.start_id - 1) // self.page_size + 1
        resp = requests.get(
            f"{self.base_url}/posts",
            params={"_page": start, "_limit": self.page_size},
            timeout=30,
        )
        resp.raise_for_status()
        for post in resp.json():
            if partition.start_id <= post.get("id", 0) <= partition.end_id:
                yield (
                    post.get("userId"),
                    post.get("id"),
                    post.get("title"),
                    post.get("body"),
                )


class RestPostsStreamReader(SimpleDataSourceStreamReader):
    """Incremental poller: each micro-batch reads the next id range.

    Offsets are ``{"last_id": n}`` — the source is replayable between
    any two offsets (read2 below), which is what gives the stream
    exactly-once semantics after a restart: the checkpointed offset
    range is re-fetched deterministically, never re-invented.
    """

    def __init__(self, options: dict):
        self.limit = int(options.get("limit", 100))
        self.batch_size = int(options.get("batch_size", 25))
        self.offline = str(options.get("offline", "true")).lower() != "false"

    def initialOffset(self):
        return {"last_id": 0}

    def _rows(self, start_id: int, end_id: int):
        from .api import fake_posts

        if not self.offline:  # pragma: no cover - network path
            import requests

            resp = requests.get(
                "https://jsonplaceholder.typicode.com/posts", timeout=30
            )
            resp.raise_for_status()
            posts = resp.json()
        else:
            posts = fake_posts(end_id)
        for post in posts:
            if start_id <= post["id"] <= end_id:
                yield (post["userId"], post["id"], post["title"], post["body"])

    def read(self, start):
        s = int(start["last_id"])
        e = min(s + self.batch_size, self.limit)
        return list(self._rows(s + 1, e)), {"last_id": e}

    def readBetweenOffsets(self, start, end):
        # deterministic replay of a checkpointed range (restart path)
        return list(self._rows(int(start["last_id"]) + 1, int(end["last_id"])))


class RestPostsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rest_posts"

    def schema(self) -> str:
        return POSTS_DDL

    def reader(self, schema) -> RestPostsReader:
        return RestPostsReader(self.options)

    def simpleStreamReader(self, schema) -> RestPostsStreamReader:
        return RestPostsStreamReader(self.options)


def register(spark) -> bool:
    """Register the source; returns False when the DataSource API is
    unavailable (callers fall back to sources.api.ApiSource)."""
    if not _HAS_DATASOURCE_API:
        return False
    spark.dataSource.register(RestPostsDataSource)
    return True
