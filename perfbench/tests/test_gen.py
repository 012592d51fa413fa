"""The seeded generators: same seed, same bytes; manifest matches the run."""

from __future__ import annotations

import filecmp
import os

import gen


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors and len(match) == len(names)


def test_generators_are_deterministic(tmp_path):
    for name, write in (
        ("drop", lambda d, s: gen.write_drop(d, s, 120)),
        ("stream", lambda d, s: gen.write_stream_files(d, s, 5, 30)),
        ("star", lambda d, s: gen.write_star(d, s, 0.001)),
    ):
        m1 = write(str(tmp_path / f"{name}1"), 7)
        m2 = write(str(tmp_path / f"{name}2"), 7)
        m3 = write(str(tmp_path / f"{name}3"), 8)
        assert m1 == m2, name
        assert _same_tree(str(tmp_path / f"{name}1"), str(tmp_path / f"{name}2")), name
        assert not _same_tree(str(tmp_path / f"{name}1"), str(tmp_path / f"{name}3")), name


def test_drop_has_every_shape_and_defect(tmp_path):
    m = gen.write_drop(str(tmp_path), 3, 200)
    names = os.listdir(tmp_path)
    assert any(n.endswith(".csv") for n in names)
    assert "orders_list.json" in names and "orders_wrapped.json" in names
    assert any(n.startswith("order_single_") for n in names)
    csv = "".join((tmp_path / n).read_text() for n in names if n.endswith(".csv"))
    assert "BAD-" in csv and "API-" in csv  # corrupt lines, API-id duplicates
    assert m["corrupt_lines"] >= 1
    # non-positive prices are dropped, so fewer file ids survive than were written
    assert m["unique_valid_ids"] < 200
    assert m["expected_records"] == m["api_records"] + m["unique_valid_ids"]


def test_manifest_matches_run_pipeline(spark, tmp_path):
    from scalable_data_ingestion_spark.pipeline.config import Config
    from scalable_data_ingestion_spark.pipeline.manager import PipelineManager

    drop = str(tmp_path / "drop")
    manifest = gen.write_drop(drop, 5, 40, api_limit=10)
    config = Config(
        overrides={
            "warehouse": {"root": str(tmp_path / "warehouse")},
            "files": {"input_dir": drop},
            "api": {"offline": True},
        }
    )
    result = PipelineManager(spark, config).run_pipeline(api_limit=10)
    assert result.success and not result.stages_failed
    assert result.records_processed == manifest["expected_records"]


def test_stream_manifest_matches_drain(spark, tmp_path):
    from scalable_data_ingestion_spark.storage import Warehouse
    from scalable_data_ingestion_spark.streaming.ingest import start_ingest

    inp = str(tmp_path / "in")
    manifest = gen.write_stream_files(inp, 5, 3, 50)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    q = start_ingest(spark, inp, wh, str(tmp_path / "ck"))
    q.awaitTermination()
    assert q.exception() is None
    assert wh.table("orders").count() == manifest["expected_rows"]
