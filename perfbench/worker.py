"""One workload run in its own process: set up a session, run the closed
loop, check the outputs, write the raw record as JSON.

Started by ``run.py`` with a spec file; not meant to be run by hand.
Every op is timed with ``time.monotonic`` and charged the CPU of the
whole process tree (driver, JVM, Python workers). Checks run outside
the timed region; a failed check marks ops failed and never aborts.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sys
import time

import proctree
from layers import CHECK_GROUP, Tracer, install_pipeline_wrappers

# The query mix: scans, joins, windows, shuffle-heavy dedup, Arrow
# kernels against interpreted cosine folds, and eager driver-side
# training. The seed only rotates the start position.
QUERY_MIX = (
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "q21_sole_late_supplier",
    "w_running_revenue",
    "ev_user_sessions",
    "enriched_orders",
    "q_quality_scores_messy",
    "dd_minhash_lsh_pairs",
    "sim_knn_bruteforce",
    "sim_hard_negative_mining",
    "sim_rq_distortion",
    "st_tumbling_hourly",
)
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Loop:
    """Closed-loop bookkeeping: one op at a time, wall and tree CPU each."""

    def __init__(self, seconds: float, min_warm: int):
        self.seconds = seconds
        self.min_warm = min_warm
        self.ops: list[dict] = []
        self.window_start: float | None = None
        self.pid = os.getpid()

    def more(self) -> bool:
        if not self.ops:
            return True
        if self.window_start is None:
            self.window_start = time.monotonic()
        warm = len(self.ops) - 1
        return warm < self.min_warm or time.monotonic() - self.window_start < self.seconds

    def cpu(self) -> float:
        return proctree.cpu_s(proctree.tree(self.pid))


# ------------------------------------------------------------------ checks
def _norm(v):
    if v is None:
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        # 10 significant digits: wide sums differ between engines in
        # the last bits because they add in a different order.
        return None if math.isnan(v) else float(f"{v:.10g}")
    if isinstance(v, datetime.datetime):
        # DuckDB renders DATE as a midnight datetime; collapse so
        # date-typed results compare equal across engines.
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return str(v.date())
        return str(v)
    if isinstance(v, datetime.date):
        return str(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm(x) for x in v)
    return v


def frame_digest(pdf) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (repr(tuple(_norm(x) for x in r)) for r in pdf[cols].itertuples(index=False, name=None))
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()


# --------------------------------------------------------------- workloads
def run_pipeline_small(spark, spec: dict, tracer: Tracer, loop: Loop) -> dict:
    from scalable_data_ingestion_spark.pipeline.config import Config
    from scalable_data_ingestion_spark.pipeline.manager import PipelineManager

    run_dir, manifest = spec["run_dir"], spec["manifest"]
    warehouse = os.path.join(run_dir, "warehouse")
    config = Config(
        overrides={
            "warehouse": {"root": warehouse},
            "files": {
                "input_dir": spec["input_dir"],
                "processed_dir": os.path.join(run_dir, "processed"),
                "error_dir": os.path.join(run_dir, "errors"),
            },
            "api": {"offline": True},
        }
    )
    mgr = PipelineManager(spark, config)
    restore = install_pipeline_wrappers(tracer) if spec["trace"] else None
    overall = None
    try:
        while loop.more():
            i = len(loop.ops)
            tracer.op = f"op{i}"
            c0, t0 = loop.cpu(), time.monotonic()
            res = tracer.call("pipeline", mgr.run_pipeline, api_limit=manifest["api_records"], run_name=f"bench-{i}")
            wall, cpu = time.monotonic() - t0, loop.cpu() - c0
            storage = res.stage_results.get("storage")
            ok = (
                res.success
                and not res.stages_failed
                and storage is not None
                and storage.metadata.get("operations_succeeded", 0) >= 3
                and res.records_processed == manifest["expected_records"]
            )
            score = res.quality.get("overall_score")
            overall = score if overall is None else overall
            ok = ok and score == overall
            loop.ops.append({"tag": tracer.op, "wall": wall, "cpu": cpu, "ok": bool(ok)})
    finally:
        if restore:
            restore()
    tracer.op = ""
    tracer.set_group(CHECK_GROUP)
    stored = spark.read.parquet(os.path.join(warehouse, "orders")).count()
    runs = spark.read.parquet(os.path.join(warehouse, "pipeline_runs")).count()
    n = len(loop.ops)
    readback_ok = stored == n * manifest["expected_records"] and runs == n
    if not readback_ok:
        for op in loop.ops:
            op["ok"] = False
    return {
        "checks": {"readback_rows": stored, "pipeline_runs": runs, "readback_ok": readback_ok, "overall_score": overall},
        "records_per_op": manifest["input_records"] + manifest["api_records"],
        "input_bytes_per_op": manifest["input_bytes"],
        "warehouse": warehouse,
    }


def run_query_mix(spark, spec: dict, tracer: Tracer, loop: Loop) -> dict:
    import duckdb

    from scalable_data_ingestion_spark import registry

    sf_dir = spec["input_dir"]
    start = spec["seed"] % len(QUERY_MIX)
    names = QUERY_MIX[start:] + QUERY_MIX[:start]
    qs, oracles = registry.queries(), registry.oracles()
    digests: dict[str, tuple[int, str] | str] = {}
    while loop.more():
        tag = tracer.op = f"op{len(loop.ops)}"
        wall = cpu = 0.0
        ok = True
        per_query = {}
        for name in names:
            with registry.cache_scope(spark):
                c0, t0 = loop.cpu(), time.monotonic()
                try:
                    df = tracer.call("registry.build", qs[name], spark, sf_dir)
                    tracer.call("registry.exec", df.write.format("noop").mode("overwrite").save)
                except Exception as exc:  # noqa: BLE001 - a raising query is a failed op
                    print(f"query {name} raised: {exc!r}"[:400], file=sys.stderr)
                    ok, df = False, None
                per_query[name] = time.monotonic() - t0
                wall += per_query[name]
                cpu += loop.cpu() - c0
                if df is not None and name not in digests:
                    tracer.op = ""
                    tracer.set_group(CHECK_GROUP)
                    try:
                        digests[name] = frame_digest(df.toPandas())
                    except Exception as exc:  # noqa: BLE001
                        digests[name] = f"collect failed: {exc!r}"[:400]
                    tracer.op = tag
        loop.ops.append({"tag": tag, "wall": wall, "cpu": cpu, "ok": ok, "queries": per_query})

    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    mismatched = []
    for name in names:
        want = frame_digest(con.execute(oracles[name]).fetchdf()) if name in oracles else None
        if want is None or digests.get(name) != want:
            mismatched.append(name)
            print(f"check {name}: spark={digests.get(name)} oracle={want}"[:600], file=sys.stderr)
    con.close()
    if mismatched:
        for op in loop.ops:
            op["ok"] = False
    return {
        "checks": {"queries_checked": len(names), "mismatched": mismatched},
        "records_per_op": spec["manifest"]["input_records"],
        "input_bytes_per_op": 0,
        "warehouse": None,
    }


def _drain(query, loop: Loop) -> tuple[list, dict[int, float]]:
    """Wait for an ``availableNow`` query to finish, charging the tree's
    CPU to the micro-batches whose progress reports appeared since the
    last 0.2 s poll (split evenly when several did). Returns the progress
    reports and CPU seconds by batch id."""
    cpu_by_batch: dict[int, float] = {}
    last_cpu = loop.cpu()

    def charge() -> None:
        nonlocal last_cpu
        new = [p.batchId for p in query.recentProgress if p.batchId not in cpu_by_batch]
        if new:
            now = loop.cpu()
            for b in new:
                cpu_by_batch[b] = (now - last_cpu) / len(new)
            last_cpu = now

    while not query.awaitTermination(0.2):
        charge()
    charge()
    return [p for p in query.recentProgress if p.numInputRows > 0], cpu_by_batch


def run_stream_drain(spark, spec: dict, tracer: Tracer, loop: Loop) -> dict:
    from scalable_data_ingestion_spark.storage import Warehouse
    from scalable_data_ingestion_spark.streaming.ingest import start_ingest

    run_dir, manifest = spec["run_dir"], spec["manifest"]
    drains: list[dict] = []
    while loop.more():
        k = len(drains)
        warehouse = Warehouse(spark, os.path.join(run_dir, "stream_warehouse", f"drain{k}"))
        t0 = time.monotonic()
        query = start_ingest(
            spark, spec["input_dir"], warehouse, os.path.join(run_dir, "stream_checkpoint", f"drain{k}")
        )
        progress, cpu_by_batch = _drain(query, loop)
        wall = time.monotonic() - t0
        failed = query.exception() is not None
        tracer.set_group(CHECK_GROUP)
        stored = 0 if failed else warehouse.table("orders").count()
        ok = not failed and stored == manifest["expected_rows"]
        for p in progress:
            d = p.durationMs
            tag = f"{query.id}:{p.batchId}"
            dur = d["triggerExecution"] / 1e3
            tracer.spans.append({"layer": "streaming", "op": tag, "start": 0.0, "end": dur, "depth": 1})
            loop.ops.append(
                {
                    "tag": tag,
                    "wall": dur,
                    "cpu": cpu_by_batch.get(p.batchId, 0.0),
                    "ok": ok,
                    "rows": p.numInputRows,
                    "trigger_overhead": (d["triggerExecution"] - d.get("addBatch", 0)) / 1e3,
                }
            )
        if not progress:
            loop.ops.append({"tag": f"drain{k}", "wall": wall, "cpu": 0.0, "ok": False, "rows": 0})
        if loop.window_start is None:
            # the timed window opens when the first micro-batch ends
            loop.window_start = t0 + loop.ops[0]["wall"]
        drains.append({"wall": wall, "batches": len(progress), "stored": stored, "ok": ok})
    return {
        "checks": {"drains": drains},
        "drains": drains,
        "records_per_op": manifest["input_records"],
        "input_bytes_per_op": manifest["input_bytes"],
        "warehouse": os.path.join(run_dir, "stream_warehouse"),
    }


WORKLOADS = {
    "pipeline_small": (run_pipeline_small, 3),
    "query_mix": (run_query_mix, 1),
    "stream_drain": (run_stream_drain, 3),
}


def main() -> int:
    with open(sys.argv[1], encoding="utf-8") as fh:
        spec = json.load(fh)
    import pyspark

    from scalable_data_ingestion_spark import registry
    from scalable_data_ingestion_spark.session import get_spark

    spark = get_spark("perfbench")
    registry.load_all()
    out = {"setup_s": time.monotonic() - spec["t_spawn"]}
    sc = spark.sparkContext
    fn, min_warm = WORKLOADS[spec["workload"]]
    tracer = Tracer(sc if spec["trace"] else None)
    loop = Loop(spec["seconds"], min_warm)
    out.update(fn(spark, spec, tracer, loop))
    if "stream" in spec:
        # one drain after the workload, so a traced pipeline run also
        # measures the streaming layer
        drain = Loop(0, 0)
        out["stream"] = run_stream_drain(spark, dict(spec, **spec["stream"]), tracer, drain)
        out["stream"]["ops"] = drain.ops
    out.update(
        ops=loop.ops,
        spans=tracer.spans,
        env={"master": sc.master, "default_parallelism": sc.defaultParallelism, "pyspark": pyspark.__version__},
    )
    spark.stop()  # flushes the event log of a traced run
    with open(spec["result"], "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
