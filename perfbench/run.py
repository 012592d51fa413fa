"""Benchmark entry point: one workload run, end to end or traced by layer.

    python3 perfbench/run.py --workload pipeline_small --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``.perfbench/`` (removed afterwards), runs the workload
in a fresh worker process (``worker.py``) with pinned Spark settings,
samples the process tree's memory, and prints one metric per line
followed by a final JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics. A traced run makes an untraced run first (to report
``tracing.overhead_frac``) and then one with Spark's event log on.
See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import layers
import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_small", "query_mix", "stream_drain")
# A run, traced or not, must end within this many seconds.
RUN_DEADLINE_S = 170
# pipeline_small: about 100 rows; stream_drain: several hundred small
# CSV files, one micro-batch per 100 files; query_mix: star schema.
DROP_ROWS = 100
STREAM_FILES, STREAM_ROWS_PER_FILE = 400, 40
QUERY_SF = 0.01


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def make_inputs(workload: str, seed: int, inp: str) -> tuple[str, dict]:
    if workload == "pipeline_small":
        return inp, gen.write_drop(inp, seed, DROP_ROWS)
    if workload == "stream_drain":
        return inp, gen.write_stream_files(inp, seed, STREAM_FILES, STREAM_ROWS_PER_FILE)
    return inp, gen.write_star(inp, seed, QUERY_SF)


def _worker_env(run_dir: str, event_log: str | None) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # session.default_parallelism() defaults to 32, which oversubscribes
    # small hosts; pin it to the cores this process may use.
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    # Python workers import the package by module path.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if event_log:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log}",
            "--conf spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return env


def _stop(procs: dict[int, int], deadline_s: float) -> None:
    """Wait for ``procs`` (pid -> start time) to exit (the JVM outlives the
    driver briefly), then kill what remains."""
    end = time.monotonic() + deadline_s
    while any(proctree.alive(*p) for p in procs.items()) and time.monotonic() < end:
        time.sleep(0.1)
    for p in procs.items():
        if proctree.alive(*p):
            try:
                os.kill(p[0], signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(proctree.alive(*p) for p in procs.items()):
        time.sleep(0.05)


def run_worker(
    spec: dict, run_dir: str, name: str, deadline: float, event_log: str | None = None
) -> tuple[dict, float]:
    """Run ``worker.py`` on ``spec``; return its record and the peak RSS
    (MB) of its process tree. The worker is killed at ``deadline``."""
    work = os.path.join(run_dir, name)
    os.makedirs(work, exist_ok=True)
    spec = dict(spec, run_dir=work, result=os.path.join(work, "result.json"))
    spec_path = os.path.join(work, "spec.json")
    cwd = os.path.join(work, "cwd")
    os.makedirs(cwd, exist_ok=True)
    env = _worker_env(work, event_log)
    log_path = os.path.join(work, "worker.log")
    seen: dict[int, int] = {}
    peak = 0
    with open(log_path, "w") as log:
        spec["t_spawn"] = time.monotonic()
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=cwd,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
        )
        while proc.poll() is None:
            pids = proctree.tree(proc.pid)
            seen.update((p, proctree.start_time(p)) for p in pids if p not in seen)
            peak = max(peak, proctree.rss_bytes(pids))
            if time.monotonic() > deadline:
                for p in pids:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.5)
    seen.pop(proc.pid, None)
    _stop({p: t for p, t in seen.items() if t is not None}, 20.0)
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker {name} exited with {proc.returncode}")
    with open(spec["result"]) as fh:
        return json.load(fh), peak / 2**20


# ------------------------------------------------------------------ metrics
def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, floored
    at p50 (nearest rank). Returns ``(percentile, value)``."""
    n = len(values)
    p = max(0.5, 1 - 10 / n) if n else 0.5
    ordered = sorted(values)
    return p, ordered[max(0, math.ceil(p * n) - 1)]


def end_to_end(workload: str, res: dict) -> tuple[dict, dict]:
    ops = res["ops"]
    warm = ops[1:] or ops
    walls = [o["wall"] for o in warm]
    if workload == "stream_drain":
        records = sum(o["rows"] for o in warm)
    else:
        records = res["records_per_op"] * len(warm)
    p, tail_v = tail(walls)
    metrics = {
        "setup_s": res["setup_s"],
        "first_op_s": ops[0]["wall"],
        "op_s.p50": statistics.median(walls),
        "records_per_s": records / sum(walls),
        "cpu_s_per_op": statistics.median(o["cpu"] for o in warm),
    }
    extra = {
        "op_s.tail": tail_v,
        "op_s.tail_percentile": p,
        "op_s.samples": len(walls),
        "failed_ops_frac": sum(not o["ok"] for o in ops) / len(ops),
    }
    return metrics, extra


def count_files(root: str) -> int:
    """Data files under ``root`` (Spark's ``_SUCCESS`` and ``.crc`` excluded)."""
    return sum(
        sum(1 for f in files if not f.startswith((".", "_"))) for _, _, files in os.walk(root)
    )


def per_layer(workload: str, res: dict, event_log: str, p50_untraced: float) -> dict:
    jobs = layers.job_table(layers.read_event_log(event_log))
    warm = res["ops"][1:] or res["ops"]
    tags = {o["tag"] for o in warm}
    m = layers.layer_metrics(jobs, res["spans"], tags)
    all_tags = {o["tag"] for o in res["ops"]}
    in_ops = [(layers.job_layer(j), j) for j in jobs.values() if j["op"] in all_tags]
    in_ops = [(layer, j) for layer, j in in_ops if layer]
    warm_jobs = [j for _, j in in_ops if j["op"] in tags]
    m["session.tasks_per_job"] = sum(j["tasks"] for j in warm_jobs) / max(1, len(warm_jobs))
    m["pipeline.jobs_per_run"] = len(warm_jobs) / len(tags) if workload == "pipeline_small" else 0.0
    # ratios to the input are over the whole run: how often the input was consumed
    drains = res.get("drains")
    consumed = len(drains) if drains else len(res["ops"])
    m["sources.scan_amplification"] = m["storage.bytes_written_per_input_byte"] = 0.0
    m["storage.files_written"] = m["streaming.batches"] = m["streaming.trigger_overhead_s"] = 0.0
    if workload != "query_mix":
        read = sum(j["input_records"] for layer, j in in_ops if layer in ("sources", "streaming"))
        written = sum(j["output_bytes"] for layer, j in in_ops if layer.startswith(("storage.", "streaming")))
        m["sources.scan_amplification"] = read / (res["records_per_op"] * consumed)
        m["storage.bytes_written_per_input_byte"] = written / (res["input_bytes_per_op"] * consumed)
        m["storage.files_written"] = count_files(res["warehouse"]) / consumed
    stream = res.get("stream") or (res if drains else None)
    if stream:
        s_warm = stream["ops"][1:] or stream["ops"]
        s_metrics = layers.layer_metrics(jobs, res["spans"], {o["tag"] for o in s_warm})
        m.update((k, v) for k, v in s_metrics.items() if k.startswith("streaming."))
        m["streaming.batches"] = statistics.mean(d["batches"] for d in stream["drains"])
        m["streaming.trigger_overhead_s"] = statistics.median(o["trigger_overhead"] for o in s_warm)
    m["tracing.overhead_frac"] = statistics.median(o["wall"] for o in warm) / p50_untraced - 1
    return m


def load_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "scalable_data_ingestion_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds scalable_data_ingestion_spark/", file=sys.stderr)
        return 2
    units = load_units()
    deadline = time.monotonic() + RUN_DEADLINE_S

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        load_before = os.getloadavg()
        t0 = time.monotonic()
        input_dir, manifest = make_inputs(args.workload, args.seed, os.path.join(run_dir, "input"))
        gen_s = time.monotonic() - t0
        spec = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": 0,
            "run_dir": run_dir,
            "input_dir": input_dir,
            "manifest": manifest,
        }
        res, peak_mb = run_worker(spec, run_dir, "run", deadline)
        metrics, extra = end_to_end(args.workload, res)
        extra["peak_rss_mb"] = peak_mb
        ops = list(res["ops"])
        if args.trace:
            event_log = os.path.join(run_dir, "eventlog")
            os.makedirs(event_log)
            traced_spec = dict(spec, trace=1)
            if args.workload == "pipeline_small":
                # the streaming layer is traced by one extra drain after the pipeline runs
                stream_dir, stream_manifest = make_inputs("stream_drain", args.seed, os.path.join(run_dir, "stream"))
                traced_spec["stream"] = {"input_dir": stream_dir, "manifest": stream_manifest}
            traced, _ = run_worker(traced_spec, run_dir, "traced", deadline, event_log)
            report = per_layer(args.workload, traced, event_log, metrics["op_s.p50"])
            shutil.rmtree(event_log)
            ops += traced["ops"] + traced.get("stream", {}).get("ops", [])
        else:
            report = metrics
        load_after = os.getloadavg()

        env = res["env"]
        print(
            f"env workload={args.workload} seed={args.seed} nproc={nproc()} master={env['master']} "
            f"default_parallelism={env['default_parallelism']} pyspark={env['pyspark']} "
            f"loadavg_before={load_before[0]:.2f} loadavg_after={load_after[0]:.2f}"
        )
        print(f"gen_s {gen_s:.3f} s (input generation, not part of setup_s)")
        print(f"checks {json.dumps(res['checks'], sort_keys=True)}")
        for name, value in extra.items():
            print(f"{name} {value:.6g}")
        for op in res["ops"]:
            print(f"op {op['tag']} wall={op['wall']:.3f}s cpu={op['cpu']:.2f}s ok={op['ok']}")
            for name, wall in op.get("queries", {}).items():
                print(f"query {op['tag']} {name} {wall:.3f} s")
        for name, value in report.items():
            print(f"{name} {value:.6g} {units[name]}")
        failed = sum(not o["ok"] for o in ops)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(ops),
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in report.items()},
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
