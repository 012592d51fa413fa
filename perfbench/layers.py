"""Layer tracing from outside the program: spans plus Spark's event log.

Spans come from wrappers installed around the public functions the
pipeline manager resolves; each wrapper also calls
``setJobGroup(<layer>, <op tag>)``. The group stays in force until the
next wrapper runs, so the actions the manager fires on a layer's lazy
output are charged to that layer's jobs (but not to its span, which
covers only the call itself). Streaming jobs are attributed by the
``streaming.sql.batchId`` property Spark stamps on them.

The event-log side reads Spark's uncompressed JSON-lines log and sums
each layer's task metrics; nothing here needs a live session.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

LAYERS = (
    "sources",
    "quality",
    "operators",
    "storage.save_orders",
    "storage.export",
    "storage.summary_report",
    "storage.bookkeeping",
    "pipeline",
    "registry.build",
    "registry.exec",
    "streaming",
)
LAYER_FIELDS = (
    "self_s",
    "jobs",
    "tasks",
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
    "output_bytes",
)
# Job groups the benchmark sets around its own work (checks); their
# jobs are parsed but belong to no layer.
CHECK_GROUP = "bench.check"

# Public functions ``pipeline/manager.py`` resolves, by layer.
_MANAGER_FUNCS = {
    "collect_all": "sources",
    "validate_schema": "quality",
    "quality_scores": "quality",
    "clean": "operators",
    "enrich": "operators",
    "standardize": "operators",
}
_WAREHOUSE_METHODS = {
    "save_orders": "storage.save_orders",
    "export": "storage.export",
    "summary_report": "storage.summary_report",
    "save_pipeline_run": "storage.bookkeeping",
    "save_quality_metrics": "storage.bookkeeping",
}


class Tracer:
    """Records spans ``(layer, op, start, end, depth)`` in memory; with a
    SparkContext, entering a span also sets the job group to the layer
    and the job description to the op tag."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.op = ""
        self._depth = 0

    def set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, self.op)

    def call(self, layer: str, fn, *args, **kwargs):
        self.set_group(layer)
        self._depth += 1
        t0 = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            self.spans.append(
                {"layer": layer, "op": self.op, "start": t0, "end": time.monotonic(), "depth": self._depth}
            )
            self._depth -= 1

    def wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            return self.call(layer, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def install_pipeline_wrappers(tracer: Tracer):
    """Replace the manager's resolved functions and the ``Warehouse``
    methods with traced wrappers. Returns a callable that restores them."""
    from scalable_data_ingestion_spark.pipeline import manager
    from scalable_data_ingestion_spark.storage.warehouse import Warehouse

    saved = []
    for name, layer in _MANAGER_FUNCS.items():
        saved.append((manager, name, getattr(manager, name)))
        setattr(manager, name, tracer.wrap(layer, getattr(manager, name)))
    for name, layer in _WAREHOUSE_METHODS.items():
        saved.append((Warehouse, name, getattr(Warehouse, name)))
        setattr(Warehouse, name, tracer.wrap(layer, getattr(Warehouse, name)))

    def restore() -> None:
        for owner, name, fn in saved:
            setattr(owner, name, fn)

    return restore


def self_times(spans: list[dict]) -> dict[tuple[str, str], float]:
    """Self time per ``(op, layer)``: each span's duration minus the part
    of its interval covered by deeper spans of the same op."""
    by_op: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    out: dict[tuple[str, str], float] = defaultdict(float)
    for op, group in by_op.items():
        for s in group:
            children = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in group
                if c["depth"] == s["depth"] + 1 and c["start"] < s["end"] and c["end"] > s["start"]
            )
            covered, cur_end = 0.0, s["start"]
            for a, b in children:
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[(op, s["layer"])] += (s["end"] - s["start"]) - covered
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application under ``log_dir``, in file order.
    Spark 4 writes rolling ``eventlog_v2_*/events_<n>_*`` files."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def order(path: str):
        return (os.path.dirname(path), int(os.path.basename(path).split("_")[1]))

    events = []
    for path in sorted(files, key=order):
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def job_table(events: list[dict]) -> dict[int, dict]:
    """Per job: its group, op tag, stream key, and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            stream = props.get("sql.streaming.queryId")
            job = {
                "group": props.get("spark.jobGroup.id"),
                # stream ops are tagged <query id>:<batch id>, like the
                # worker tags micro-batches
                "op": f"{stream}:{batch}" if batch is not None else props.get("spark.job.description") or "",
                "stream": batch is not None,
                "tasks": 0,
                "task_cpu_s": 0.0,
                "task_run_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "input_records": 0,
                "output_bytes": 0,
            }
            jobs[e["Job ID"]] = job
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
            m = e.get("Task Metrics")
            if job is None or not m:
                continue
            job["tasks"] += 1
            job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            job["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs


def job_layer(job: dict) -> str | None:
    """The layer a job is charged to, or None for the benchmark's own
    jobs and jobs outside any op."""
    if job["stream"]:
        return "streaming"
    return job["group"] if job["group"] in LAYERS else None


def layer_metrics(jobs: dict[int, dict], spans: list[dict], ops: set[str]) -> dict[str, float]:
    """Per-layer metrics averaged over ``ops`` (op tags): ``<layer>.<field>``
    for every layer in :data:`LAYERS` (0 for layers the ops never ran)."""
    wanted = set(ops)
    n = max(1, len(wanted))
    totals = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
    for job in jobs.values():
        layer = job_layer(job)
        if layer is None or job["op"] not in wanted:
            continue
        t = totals[layer]
        t["jobs"] += 1
        for f in LAYER_FIELDS[2:]:
            t[f] += job[f]
    for (op, layer), s in self_times(spans).items():
        if op in wanted and layer in totals:
            totals[layer]["self_s"] += s
    return {f"{layer}.{f}": v / n for layer, t in totals.items() for f, v in t.items()}
