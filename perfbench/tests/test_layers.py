"""The event-log parser and the span tree."""

from __future__ import annotations

import time

import layers


def _two_job_log(spark, event_log_dir):
    from pyspark.sql import functions as F

    tracer = layers.Tracer(spark.sparkContext)
    tracer.op = "op-two-jobs"
    # AQE runs a shuffle aggregate as two jobs: the map stage, then the
    # result stage.
    rows = tracer.call(
        "registry.exec",
        lambda: spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 3).alias("k")).count().collect(),
    )
    assert sorted((r["k"], r["count"]) for r in rows) == [(0, 334), (1, 333), (2, 333)]
    deadline = time.monotonic() + 30
    while True:
        jobs = layers.job_table(layers.read_event_log(event_log_dir))
        mine = [j for j in jobs.values() if j["op"] == "op-two-jobs"]
        if len(mine) == 2 and sum(j["tasks"] for j in mine) >= 2 or time.monotonic() > deadline:
            return jobs, tracer.spans
        time.sleep(0.2)


def test_parser_pins_two_job_query(spark, event_log_dir):
    jobs, spans = _two_job_log(spark, event_log_dir)
    mine = [j for j in jobs.values() if j["op"] == "op-two-jobs"]
    assert len(mine) == 2
    assert all(j["group"] == "registry.exec" and layers.job_layer(j) == "registry.exec" for j in mine)
    # the 4 map tasks read the 1000 range rows and shuffle them out
    assert sum(j["input_records"] for j in mine) == 1000
    assert sum(j["shuffle_write_bytes"] for j in mine) > 0
    assert sum(j["tasks"] for j in mine) >= 5  # 4 map tasks + >=1 reduce task
    assert all(j["task_run_s"] >= 0 and j["task_cpu_s"] > 0 for j in mine)

    m = layers.layer_metrics(jobs, spans, {"op-two-jobs"})
    assert m["registry.exec.jobs"] == 2
    assert m["registry.exec.tasks"] == sum(j["tasks"] for j in mine)
    assert m["registry.exec.self_s"] > 0
    assert m["registry.build.jobs"] == 0
    assert set(m) == {f"{l}.{f}" for l in layers.LAYERS for f in layers.LAYER_FIELDS}


def test_untagged_and_check_jobs_belong_to_no_layer():
    assert layers.job_layer({"stream": False, "group": None}) is None
    assert layers.job_layer({"stream": False, "group": layers.CHECK_GROUP}) is None
    assert layers.job_layer({"stream": True, "group": "some-run-id"}) == "streaming"


def test_self_time_subtracts_child_coverage():
    spans = [
        {"layer": "pipeline", "op": "a", "start": 0.0, "end": 10.0, "depth": 1},
        {"layer": "sources", "op": "a", "start": 1.0, "end": 3.0, "depth": 2},
        {"layer": "operators", "op": "a", "start": 2.0, "end": 4.0, "depth": 2},  # overlaps
        {"layer": "storage.export", "op": "a", "start": 9.0, "end": 12.0, "depth": 2},  # past the end
        {"layer": "pipeline", "op": "b", "start": 0.0, "end": 1.0, "depth": 1},
    ]
    st = layers.self_times(spans)
    assert st[("a", "pipeline")] == 10.0 - (4.0 - 1.0) - (10.0 - 9.0)
    assert st[("a", "sources")] == 2.0
    assert st[("b", "pipeline")] == 1.0
