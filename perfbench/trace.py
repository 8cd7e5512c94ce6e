"""Tracing for the traced run: spans, a streaming listener, event-log folding.

Spans are recorded by the benchmark around each call it makes into a
layer of the package; they are held in memory and written out at the end.
The streaming listener keeps every ``StreamingQueryProgress``. Spark's own
event log (enabled from the launch environment, uncompressed) gives jobs,
stages and tasks. The ``fold_*`` functions turn them into per-layer totals.
With tracing off, ``Tracer.span`` records nothing.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


def p50(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def union_ms(intervals) -> float:
    """Length in ms of the union of (start_s, end_s) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


class Tracer:
    """In-memory spans: name, layer, start, end, parent; one run id."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None  # a span opened on another thread
        stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "parent": parent,
                        "layer": layer,
                        "name": name or layer,
                        "start": t0,
                        "end": t1,
                        "run": self.run_id,
                    }
                )

    def self_ms(self) -> dict[str, float]:
        """Per layer: total span time minus the time its child spans cover."""
        children: dict[int, list] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) * 1000.0
            kids = [
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], ())
                if b > s["start"] and a < s["end"]
            ]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own - union_ms(kids)
        return out


def make_listener(sink: list):
    """A StreamingQueryListener that appends each progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass  # a line cut short when the app stopped
    return events


def fold_event_log(events: list[dict], tag: str) -> dict:
    """Scheduler, executor and shuffle totals of the jobs tagged ``tag``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            tags = (e.get("Properties") or {}).get("spark.job.tags", "")
            if tag in tags.split(","):
                jid = e["Job ID"]
                jobs[jid] = {"start": e["Submission Time"] / 1000.0, "end": None}
                for sid in e.get("Stage IDs", ()):
                    stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and e.get("Job ID") in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
    out = dict.fromkeys(
        (
            "sched.stages",
            "sched.tasks",
            "sched.delay_ms",
            "exec.run_ms",
            "exec.cpu_ms",
            "exec.gc_ms",
            "exec.deserialize_ms",
            "exec.peak_mem_bytes",
            "shuffle.write_bytes",
            "shuffle.read_bytes",
            "shuffle.records",
            "spill.bytes",
        ),
        0.0,
    )
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            if e["Stage Info"]["Stage ID"] in stage_job:
                out["sched.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            deser = m.get("Executor Deserialize Time", 0)
            ser = m.get("Result Serialization Time", 0)
            fetch = info.get("Getting Result Time", 0)
            dur = info["Finish Time"] - info["Launch Time"]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out["sched.tasks"] += 1
            out["sched.delay_ms"] += max(0, dur - run - deser - ser - fetch)
            out["exec.run_ms"] += run
            out["exec.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["exec.gc_ms"] += m.get("JVM GC Time", 0)
            out["exec.deserialize_ms"] += deser
            out["exec.peak_mem_bytes"] = max(
                out["exec.peak_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            out["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out["shuffle.records"] += sw.get("Shuffle Records Written", 0)
            out["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    intervals = [(j["start"], j["end"]) for j in jobs.values() if j["end"]]
    out["sched.jobs"] = float(len(jobs))
    out["sched.job_busy_ms"] = union_ms(intervals)
    out["_job_intervals"] = intervals
    return out


def fold_progress(ps: list[dict]) -> dict:
    """Trigger phases, source and state-operator totals from progress reports."""
    dur = lambda key: [p["durationMs"].get(key, 0) for p in ps if key in p["durationMs"]]
    state = [op for p in ps for op in p.get("stateOperators", ())]
    sources = [s for p in ps for s in p.get("sources", ())]
    last_state: dict = {}
    for p in ps:  # rows held now = the latest report of each operator
        for i, op in enumerate(p.get("stateOperators", ())):
            last_state[(p["id"], i)] = op
    return {
        "trigger.count": float(len(ps)),
        "trigger.execution_ms_p50": p50(dur("triggerExecution")),
        "trigger.query_planning_ms_p50": p50(dur("queryPlanning")),
        "trigger.add_batch_ms_p50": p50(dur("addBatch")),
        "trigger.wal_commit_ms_p50": p50(dur("walCommit")),
        "trigger.commit_offsets_ms_p50": p50(dur("commitOffsets")),
        "sources.latest_offset_ms_p50": p50(dur("latestOffset")),
        "sources.get_batch_ms_p50": p50(dur("getBatch")),
        "sources.input_rows": float(sum(s.get("numInputRows", 0) for s in sources)),
        "state.rows_total": float(
            sum(op.get("numRowsTotal", 0) for op in last_state.values())
        ),
        "state.memory_bytes_max": float(
            max((op.get("memoryUsedBytes", 0) for op in state), default=0)
        ),
        "state.rows_updated": float(sum(op.get("numRowsUpdated", 0) for op in state)),
        "state.rows_removed": float(sum(op.get("numRowsRemoved", 0) for op in state)),
        "state.update_ms": float(sum(op.get("allUpdatesTimeMs", 0) for op in state)),
        "state.commit_ms": float(sum(op.get("commitTimeMs", 0) for op in state)),
    }


def dir_usage(path: str) -> tuple[float, float]:
    """(bytes, data files) under ``path``, ignoring checksums and markers."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return float(size), float(files)


def parquet_rows(path: str) -> float:
    """Rows in the parquet files under ``path``, from their footers."""
    import pyarrow.parquet as pq

    return float(
        sum(
            pq.read_metadata(os.path.join(root, n)).num_rows
            for root, _, names in os.walk(path)
            for n in names
            if n.endswith(".parquet")
        )
    )
