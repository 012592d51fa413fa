"""Sources (API/file), warehouse, pipeline orchestration tests —
reference-suite analogs 1, 5, 6, 7, 8, 10 (SURVEY.md §5)."""

from __future__ import annotations

import json
import logging
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from scalable_data_ingestion_spark.pipeline import Config, PipelineManager
from scalable_data_ingestion_spark.pipeline.config import DEFAULTS
from scalable_data_ingestion_spark.sources.api import ApiSource, fake_posts, posts_to_orders
from scalable_data_ingestion_spark.sources.files import (
    collect_all,
    quarantine,
    read_csv_dir,
    read_json_dir,
)
from scalable_data_ingestion_spark.storage import Warehouse


# ---- test 1 analog: API ingestion mapping (tests.py:56-82) -------------
def test_api_posts_to_orders(spark):
    posts = [
        {"userId": 1, "id": 1, "title": "my phone post", "body": "b"},
        {"userId": 2, "id": 2, "title": "computer things", "body": "b"},
        {"userId": 3, "id": 3, "title": "unmatched title", "body": "b"},
    ]
    rows = {r["order_id"]: r for r in posts_to_orders(spark, posts).collect()}
    assert sorted(rows) == ["API-0001", "API-0002", "API-0003"]
    assert rows["API-0001"]["product"] == "iPhone 15"
    assert rows["API-0002"]["product"] == "MacBook Pro"
    assert rows["API-0001"]["customer_name"] == "Customer 1"
    assert rows["API-0001"]["customer_email"] == "customer1@example.com"
    # price = 50 + (id % 20) * 25.99
    assert rows["API-0001"]["price"] == 75.99
    assert rows["API-0002"]["price"] == 101.98
    assert rows["API-0001"]["total_amount"] == rows["API-0001"]["price"]
    # deterministic fallback product from the fixed list
    assert rows["API-0003"]["product"] in {
        "iPhone 15", "MacBook Pro", "AirPods Pro", "iPad Air", "Apple Watch"
    }


def test_fake_posts_deterministic():
    assert fake_posts(5) == fake_posts(5)
    assert len(fake_posts(100)) == 100


# ---- file ingestion: CSV + JSON shapes + quarantine (A5 fixture) -------
@pytest.fixture()
def drop_dir(tmp_path):
    d = tmp_path / "input"
    d.mkdir()
    (d / "orders1.csv").write_text(
        "order_id,customer_name,customer_email,product,quantity,price,discount,total_amount,order_date\n"
        "CSV-0001,Alice A,alice@example.com,iPhone 15,1,999.99,0.0,999.99,2024-01-10\n"
        "CSV-0002,Bob B,bob@example.com,iPad Air,2,599.99,0.0,1199.98,2024-01-11\n"
    )
    (d / "orders_list.json").write_text(
        json.dumps(
            [
                {"order_id": "JSN-0001", "customer_name": "Carol C",
                 "customer_email": "carol@example.com", "product": "MacBook Pro",
                 "quantity": "1", "price": "1999.99", "order_date": "2024-01-12"}
            ]
        )
    )
    (d / "orders_wrapped.json").write_text(
        json.dumps(
            {"orders": [
                {"order_id": "JSN-0002", "customer_name": "Dan D",
                 "customer_email": "dan@example.com", "product": "AirPods Pro",
                 "quantity": "2", "price": "249.99", "order_date": "2024-01-13"}
            ]}
        )
    )
    (d / "orders_single.json").write_text(
        json.dumps(
            {"order_id": "JSN-0003", "customer_name": "Eve E",
             "customer_email": "eve@example.com", "product": "Nintendo Switch",
             "quantity": "1", "price": "299.99", "order_date": "2024-01-14"}
        )
    )
    return str(d)


def test_csv_ingestion_with_lineage(spark, drop_dir):
    df = read_csv_dir(spark, drop_dir)
    good, bad = quarantine(df)
    rows = {r["order_id"]: r for r in good.collect()}
    assert sorted(rows) == ["CSV-0001", "CSV-0002"]
    assert rows["CSV-0001"]["source"] == "file_csv"
    assert rows["CSV-0001"]["source_file"].endswith("orders1.csv")
    assert bad.count() == 0


def test_json_three_shapes(spark, drop_dir):
    good, _ = quarantine(read_json_dir(spark, drop_dir))
    ids = sorted(r["order_id"] for r in good.collect())
    assert ids == ["JSN-0001", "JSN-0002", "JSN-0003"]


def test_collect_all_union_dedup(spark, drop_dir):
    df = collect_all(spark, input_dir=drop_dir, api_limit=5, api=ApiSource(offline=True))
    ids = [r["order_id"] for r in df.select("order_id").collect()]
    assert len(ids) == len(set(ids))
    # API(5) + CSV(2) + JSON(3), no key overlap across prefixes
    assert len(ids) == 10
    sources = {r["source"] for r in df.select("source").distinct().collect()}
    assert sources == {"api_rest", "file_csv", "file_json"}


# ---- test 5 analog: warehouse save + read-back (tests.py:157-185) -------
def test_warehouse_upsert_roundtrip(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df1 = spark.createDataFrame(
        [("API-0001", "iPhone 15", 999.99, 1), ("API-0002", "iPad Air", 599.99, 2)],
        ["order_id", "product", "price", "quantity"],
    )
    wh.save_orders(df1)
    # upsert: same key, new value wins on read-back
    df2 = spark.createDataFrame(
        [("API-0001", "iPhone 15 Pro", 1199.99, 1)],
        ["order_id", "product", "price", "quantity"],
    )
    wh.save_orders(df2)
    back = {r["order_id"]: r for r in wh.read_orders(order_by="order_id", desc=False).collect()}
    assert len(back) == 2
    assert back["API-0001"]["product"] == "iPhone 15 Pro"
    assert back["API-0002"]["price"] == 599.99

    wh.compact()
    assert wh.read_orders(order_by="order_id", desc=False).count() == 2

    stats = wh.stats()
    assert stats["total_orders"] == 2
    assert stats["orders_today"] == 2


def test_warehouse_default_fill(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    wh.save_orders(spark.createDataFrame([("X-0001",)], ["order_id"]))
    row = wh.read_orders().first()
    assert row["quantity"] == 1 and row["price"] == 0.0 and row["total_amount"] == 0.0


def test_warehouse_file_uri_root(spark, tmp_path, monkeypatch):
    """A file: URI root is the local directory it names: saved orders are
    counted, and no literal 'file:' directory appears under the cwd."""
    monkeypatch.chdir(tmp_path)
    wh = Warehouse(spark, (tmp_path / "wh").as_uri())
    wh.save_orders(spark.createDataFrame([("X-0001",)], ["order_id"]))
    assert wh.stats()["total_orders"] == 1
    assert (tmp_path / "wh" / "orders").is_dir()
    assert not (tmp_path / "file:").exists()
    with pytest.raises(ValueError, match="local"):
        Warehouse(spark, "hdfs://namenode/wh")


def test_summary_report(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh3"))
    df = spark.createDataFrame(
        [("A", 10.0, 100.0), ("B", 20.0, 200.0), ("A", 30.0, 300.0)],
        ["customer_segment", "price", "total_amount"],
    )
    path = str(tmp_path / "report.json")
    rep = wh.summary_report(df, path=path)
    assert rep["total_records"] == 3
    assert rep["numeric"]["price"]["median"] == 20.0
    assert rep["numeric"]["price"]["mean"] == 20.0
    assert rep["categorical"]["customer_segment"]["top_values"]["A"] == 2
    assert rep["revenue"] == {"sum": 600.0, "mean": 200.0, "max": 300.0, "min": 100.0}
    assert os.path.exists(path)

    # no numeric columns: the one aggregate pass still counts the records
    strings_only = spark.createDataFrame([("A",), ("B",)], ["customer_segment"])
    rep = wh.summary_report(strings_only)
    assert rep["total_records"] == 2
    assert rep["numeric"] == {} and "revenue" not in rep
    assert rep["categorical"]["customer_segment"]["top_values"] == {"A": 1, "B": 1}


def test_export_rejects_unknown_format(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh4"))
    df = spark.createDataFrame([("A-0001", 10.0)], "order_id: string, total: double")
    with pytest.raises(ValueError, match="xlsx"):
        wh.export(df, "orders", formats=("parquet", "xlsx"))
    assert not os.path.exists(str(tmp_path / "wh4" / "exports"))


# ---- tests 6/7/10 analog: orchestration, error policy, end-to-end ------
def test_pipeline_end_to_end(spark, tmp_path, drop_dir):
    mgr = PipelineManager(spark, _pipeline_config(tmp_path, drop_dir))
    result = mgr.run_pipeline(api_limit=20)
    assert result.success, result.error_message
    assert result.stages_completed == ["ingestion", "validation", "transformation", "storage"]
    assert result.records_processed > 0
    assert result.quality["overall_score"] > 0

    # stored orders are enriched + standardized
    stored = mgr.warehouse.read_orders(order_by="order_id", desc=False)
    assert "customer_segment" in stored.columns
    assert "risk_level" in stored.columns
    assert stored.count() == result.records_processed

    # run + metrics persisted
    runs = mgr.warehouse.table("pipeline_runs")
    assert runs.filter(F.col("run_id") == result.run_id).count() == 1
    metrics = mgr.warehouse.table("data_quality_metrics")
    assert metrics.filter(F.col("run_id") == result.run_id).count() > 0
    # the schemas dict-row inference wrote, column order included, so
    # tables from earlier runs keep appending compatible files
    assert runs.schema.simpleString() == (
        "struct<end_time:string,error_message:string,records_failed:bigint,"
        "records_processed:bigint,run_id:string,start_time:string,status:string>"
    )
    assert metrics.schema.simpleString() == (
        "struct<measured_at:string,metric_name:string,metric_type:string,"
        "metric_value:double,run_id:string,source_table:string>"
    )

    # markdown report (X4)
    report = mgr.markdown_report(result)
    assert "# Pipeline Execution Report" in report and result.run_id in report

    # status (X3)
    status = mgr.status()
    assert status["warehouse"]["total_orders"] == result.records_processed


def _pipeline_config(tmp_path, drop_dir):
    return Config(
        overrides={
            "warehouse": {"root": str(tmp_path / "wh")},
            "files": {"input_dir": drop_dir},
            "api": {"offline": True},
        }
    )


def test_pipeline_cost_matches_docstring(spark, tmp_path, drop_dir):
    """The manager docstring's jobs-per-run figure is what a run costs,
    and a run leaves no persisted RDD behind."""
    import scalable_data_ingestion_spark.pipeline.manager as mgr_mod

    stated = int(re.search(r"(\d+) Spark jobs per run", mgr_mod.__doc__).group(1))
    sc = spark.sparkContext
    mgr = PipelineManager(spark, _pipeline_config(tmp_path, drop_dir))
    jobs = []
    try:
        for i in range(2):
            group = f"pipeline-cost-{i}-{tmp_path.name}"
            persisted = sc._jsc.getPersistentRDDs().size()
            sc.setJobGroup(group, "run_pipeline cost pin")
            assert mgr.run_pipeline(api_limit=20).success
            sc._jsc.clearJobGroup()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            assert sc._jsc.getPersistentRDDs().size() == persisted
    finally:
        sc._jsc.clearJobGroup()
    assert jobs[1] == stated, jobs


def test_pipeline_bookkeeping_failure_is_recorded(spark, tmp_path, drop_dir, monkeypatch, caplog):
    def broken(self, run):
        raise OSError("run table unwritable")

    monkeypatch.setattr(Warehouse, "save_pipeline_run", broken)
    mgr = PipelineManager(spark, _pipeline_config(tmp_path, drop_dir))
    with caplog.at_level(logging.ERROR):
        result = mgr.run_pipeline(api_limit=5)
    assert result.success, result.error_message
    assert result.error_message is None
    assert "run table unwritable" in result.bookkeeping_error
    assert any("run-tracking write failed" in r.getMessage() for r in caplog.records)


def test_pipeline_stage_toggles(spark, tmp_path):
    config = Config(
        overrides={"warehouse": {"root": str(tmp_path / "wh")}, "api": {"offline": True}}
    )
    mgr = PipelineManager(spark, config)
    mgr.enable_transformation = False
    mgr.enable_storage = False
    result = mgr.run_pipeline(api_limit=5)
    assert result.success
    assert result.stages_completed == ["ingestion", "validation"]
    assert "transformation" not in result.stage_results


def test_pipeline_ingestion_failure_aborts(spark, tmp_path, monkeypatch):
    config = Config(
        overrides={"warehouse": {"root": str(tmp_path / "wh")}, "api": {"offline": True}}
    )
    mgr = PipelineManager(spark, config)
    import scalable_data_ingestion_spark.pipeline.manager as mgr_mod

    def boom(*a, **k):
        raise RuntimeError("ingest broke")

    monkeypatch.setattr(mgr_mod, "collect_all", boom)
    result = mgr.run_pipeline(api_limit=5)
    assert not result.success
    assert result.stages_failed == ["ingestion"]
    assert "ingest broke" in result.error_message
    # abort policy: nothing after ingestion ran
    assert set(result.stage_results) == {"ingestion"}


def test_pipeline_api_source_follows_the_config(spark, tmp_path, monkeypatch):
    seen = {}

    def fetch_posts(self, limit=100):
        seen.update(
            base_url=self.base_url,
            timeout_s=self.timeout_s,
            retries=self.retries,
            retry_delay_s=self.retry_delay_s,
            offline=self.offline,
        )
        return fake_posts(limit)

    monkeypatch.setattr(ApiSource, "fetch_posts", fetch_posts)
    config = Config(
        overrides={
            "warehouse": {"root": str(tmp_path / "wh")},
            "files": {"input_dir": str(tmp_path / "no_drop")},
            "api": {
                "base_url": "http://api.internal:8080/v2/",
                "timeout": 7,
                "retry_attempts": 2,
                "retry_delay": 0.5,
                "offline": False,
            },
        }
    )
    mgr = PipelineManager(spark, config)
    mgr.enable_validation = mgr.enable_transformation = mgr.enable_storage = False
    result = mgr.run_pipeline(api_limit=3)
    assert result.success and result.records_processed == 3
    assert seen == {
        "base_url": "http://api.internal:8080/v2",
        "timeout_s": 7,
        "retries": 2,
        "retry_delay_s": 0.5,
        "offline": False,
    }


def test_every_config_default_is_read():
    # Computed from DEFAULTS, not a hand list: each leaf key must appear
    # as a config.get("<dotted key>") literal somewhere in the package.
    def leaves(node, prefix=""):
        for key, value in node.items():
            if isinstance(value, dict):
                yield from leaves(value, f"{prefix}{key}.")
            else:
                yield prefix + key

    package = Path(__file__).resolve().parents[1] / "scalable_data_ingestion_spark"
    read = {
        m
        for path in package.rglob("*.py")
        for m in re.findall(r"""config\.get\(\s*["']([\w.]+)["']""", path.read_text())
    }
    assert sorted(set(leaves(DEFAULTS)) - read) == []


def test_health_check(spark, tmp_path):
    config = Config(
        overrides={"warehouse": {"root": str(tmp_path / "wh")}, "api": {"offline": True}}
    )
    mgr = PipelineManager(spark, config)
    health = mgr.health_check()
    assert health["status"] == "healthy"
    assert health["checks"] == {"spark": "healthy", "api": "healthy", "filesystem": "healthy"}


# ---- test 8 analog: config loading (tests.py:260-280) ------------------
def test_config_dot_notation(tmp_path):
    cfg = Config()
    assert cfg.get("data_quality.quality_threshold") == 80
    assert cfg.get("nope.nope", "fallback") == "fallback"

    yaml_path = tmp_path / "c.yaml"
    yaml_path.write_text("warehouse:\n  root: /custom/root\napi:\n  timeout: 5\n")
    cfg2 = Config(str(yaml_path))
    assert cfg2.get("warehouse.root") == "/custom/root"
    assert cfg2.get("api.timeout") == 5
    assert cfg2.get("api.retry_attempts") == 3  # default preserved


def test_warehouse_deletion_vectors(spark, tmp_path):
    """Delete-without-rewrite cycle: tombstone append, live read via
    broadcast anti-join, idempotent re-delete, vacuum folds the debt."""
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "whdv"))
    rows = [
        (f"DV-{i:04d}", "widget" if i % 2 else "gadget", float(i), 1)
        for i in range(20)
    ]
    wh.save_orders(
        spark.createDataFrame(rows, ["order_id", "product", "price", "quantity"])
    )
    assert wh.delete_orders_where(F.col("product") == "gadget") == 10
    live = wh.read_orders_live()
    assert live.count() == 10
    assert {r["product"] for r in live.select("product").distinct().collect()} == {
        "widget"
    }
    # raw read still sees every row — no data file was rewritten
    assert wh.read_orders().count() == 20
    # tombstoned rows are no longer live: re-delete matches nothing
    assert wh.delete_orders_where(F.col("product") == "gadget") == 0
    # read-side merge is one BROADCAST anti-join (tombstones are small)
    plan = wh.read_orders_live()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # vacuum: physical rewrite, tombstones cleared, live set unchanged
    wh.vacuum_deletes()
    import os

    assert not os.path.isdir(str(tmp_path / "whdv" / "orders__deletes"))
    assert wh.read_orders().count() == 10
    assert wh.read_orders_live().count() == 10
