"""Repository benchmark: one workload per run, results as one JSON line.

    python3 perfbench/run.py --workload tweets_live --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):
  tweets_live   open-loop tweet stream, Q1/Q2/Q3 under a 2 s trigger
  corpus_dedup  the three persisted keeper-store streams, through the registry

Run from the repository root. With ``--trace 0`` the last line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics of
a separate traced run (event log, streaming listener, spans). Every run
also writes a result file with ``cpus`` and the host load average under
``.perfbench_work/results/``. The exit code is non-zero when an output
differs from its oracle or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from datetime import datetime

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spark_streaming_twitter_spark"
WORKLOADS = ("tweets_live", "corpus_dedup")


def load_spec() -> dict:
    """Metric names and units come from BENCHMARK.json, the one list of them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Ctx:
    """What a workload needs: the session, its tracer, dirs and marks."""

    def __init__(self, args, work: str, tracer) -> None:
        self.workload = args.workload
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.root, self.work, self.tracer = ROOT, work, tracer
        self.tmp = os.environ["TMPDIR"]
        self.tag = f"perfbench-{args.workload}"
        self.spark = None
        self.children: list = []
        self.measure_start = self.measure_end = None
        self.rss_mb = None
        self.listener = None  # the traced run's StreamingQueryListener

    def mark_measure_start(self, t: float) -> None:
        self.measure_start = t

    def mark_measure_end(self, t: float) -> None:
        self.measure_end = t
        self.rss_mb = peak_rss_mb(self.spark)

    def with_tags(self, fn, *args):
        """Run ``fn`` with this run's job tag on the calling thread."""
        sc = self.spark.sparkContext
        sc.addJobTag(self.tag)
        try:
            return fn(*args)
        finally:
            if sc._jsc is not None:  # the workload may have restarted Spark
                sc.removeJobTag(self.tag)


def _vm_hwm_kb(pid: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    return 0.0


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python driver."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(str(jvm_pid)) + _vm_hwm_kb("self")) / 1024.0


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work``; enable the event log."""
    for d in ("tmp", "local", "jtmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = f"-Djava.io.tmpdir={work}/jtmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    args = [f"--conf spark.sql.warehouse.dir={work}/warehouse"]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir={work}/eventlog",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None


def _progress_in_window(progress: list[dict], t0: float, t1: float) -> list[dict]:
    out = []
    for p in progress:
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if t0 <= ts <= t1:
            out.append(p)
    return out


def layer_metrics(ctx, res: dict, session_s: float, progress: list[dict]) -> dict:
    """Fold the traced run's sources into the per-layer metrics."""
    from perfbench import trace as tr

    t0, t1 = ctx.measure_start, ctx.measure_end
    wall_ms = (t1 - t0) * 1000.0
    events = tr.read_event_log(os.path.join(ctx.work, "eventlog"))
    ev = tr.fold_event_log([e for e in events if _in_window(e, t0, t1)], ctx.tag)
    jobs = ev.pop("_job_intervals")
    window = _progress_in_window(progress, t0, t1)
    out = {
        "loadgen.events": 0.0,
        "loadgen.lag_p99_ms": 0.0,
        "sources.backlog_events_max": 0.0,
        "operators.plan_build_ms": 0.0,
        "sinks.write_ms_p50": 0.0,
        "sinks.rows": 0.0,
        "sinks.bytes": 0.0,
        "sinks.files": 0.0,
        "store.triggers": 0.0,
        "store.trigger_ms_p50": 0.0,
        "store.bytes": 0.0,
        "store.files": 0.0,
        "catalyst.analysis_ms": 0.0,
        "catalyst.optimization_ms": 0.0,
        "catalyst.planning_ms": 0.0,
        "scaling.throughput_eps_1core": 0.0,
        "scaling.throughput_eps_ncore": 0.0,
    }
    out.update(tr.fold_progress(window))
    out.update(ev)
    out["driver.gap_ms"] = max(0.0, wall_ms - out["sched.job_busy_ms"])
    out["trigger.jobs_per_trigger"] = (
        len(jobs) / out["trigger.count"] if out["trigger.count"] else 0.0
    )
    spans = [s for s in ctx.tracer.spans if s["start"] >= t0 and s["end"] <= t1 + 1]
    layer_ms = lambda layer: sum(
        (s["end"] - s["start"]) * 1000.0 for s in spans if s["layer"] == layer
    )
    n_pass = max(1, len(res.get("passes", [1])))
    out["registry.fn_ms"] = layer_ms("registry") / n_pass
    out["catalyst.plan_ms"] = layer_ms("catalyst") / n_pass
    out["exec.collect_ms"] = layer_ms("exec") / n_pass
    covered = [(s["start"], s["end"]) for s in spans] + jobs
    out["driver.unattributed_ms"] = max(0.0, wall_ms - tr.union_ms(
        [(max(a, t0), min(b, t1)) for a, b in covered if b > t0 and a < t1]
    ))
    out["session.start_ms"] = session_s * 1000.0
    out["driver.peak_rss_mb"] = ctx.rss_mb
    out.update(res.get("layers", {}))
    if ctx.workload == "corpus_dedup":
        out["store.triggers"] = out["trigger.count"]
        out["store.trigger_ms_p50"] = out["trigger.execution_ms_p50"]
    for d in res.get("sink_dirs", ()):
        b, f = tr.dir_usage(d)
        out["sinks.bytes"] += b
        out["sinks.files"] += f
        out["sinks.rows"] += tr.parquet_rows(d)
    return out


def _in_window(e: dict, t0: float, t1: float) -> bool:
    """Keep job events of jobs submitted in the window, and every other event."""
    if e.get("Event") == "SparkListenerJobStart":
        return t0 <= e["Submission Time"] / 1000.0 <= t1
    return True


def end_to_end(res: dict, setup_s: float) -> dict:
    lat = np.asarray(res["latencies_ms"], dtype=float)
    return {
        "setup_s": setup_s,
        "latency_p50_ms": float(np.percentile(lat, 50)),
        "latency_p99_ms": float(np.percentile(lat, 99)),
        "throughput_eps": res["throughput_eps"],
        "wall_s": res["wall_s"],
    }


def run(args) -> dict:
    from perfbench.trace import Tracer

    spec = load_spec()
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    prepare_env(work, bool(args.trace))
    tracer = Tracer(bool(args.trace), run_id)
    ctx = Ctx(args, work, tracer)
    progress: list[dict] = []
    t_begin = time.time()
    try:
        from spark_streaming_twitter_spark.session import get_spark

        with tracer.span("session", "get_spark"):
            ctx.spark = get_spark()
        session_s = time.time() - t_begin
        if ctx.trace:
            from perfbench.trace import make_listener

            ctx.listener = make_listener(progress)
            ctx.spark.streams.addListener(ctx.listener)
        res = dispatch(ctx)
        metrics = end_to_end(res, ctx.measure_start - t_begin)
    finally:
        for child in ctx.children:
            if child.poll() is None:
                child.kill()
            child.wait()
        stop_session(ctx.spark)
    errors = res["errors"]
    if ctx.trace:
        produced = layer_metrics(ctx, res, session_s, progress)
        produced.update({f"traced.{k}": v for k, v in metrics.items()})
        listed = spec["per_layer"]
    else:
        produced, listed = metrics, spec["end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in produced]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    out = {m["name"]: {"value": float(produced[m["name"]]), "unit": m["unit"]} for m in listed}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": os.cpu_count(),
        "load_avg": os.getloadavg(),
        "samples": len(res["latencies_ms"]),
        "session_s": session_s,
        "file_latency_ms": res.get("file_latency_ms"),
        "call_latency_ms": res.get("call_latency_ms"),
        "burst_s": res.get("burst_s"),
        "errors": errors,
        "metrics": out,
    }
    if ctx.trace:
        record["span_self_ms"] = tracer.self_ms()
        record["spans"] = tracer.spans
        record["progress"] = progress
    results = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": not errors,
        "attempted": int(res["attempted"]),
        "failed": len(errors),
        "metrics": out,
    }, record


def dispatch(ctx) -> dict:
    if ctx.workload == "tweets_live":
        from perfbench.tweets import run_live

        return ctx.with_tags(run_live, ctx)
    from perfbench.registry_runs import run_corpus

    return ctx.with_tags(run_corpus, ctx)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main() -> int:
    p = argparse.ArgumentParser(description="Repository benchmark (one workload per run).")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        result, record = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(
        f"{args.workload} samples = {record['samples']}; fail_ratio = "
        f"{result['failed']}/{result['attempted']}; cpus = {record['cpus']}; "
        f"load_avg = {record['load_avg'][0]:.2f}"
    )
    for e in record["errors"]:
        print(f"MISMATCH {e}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
