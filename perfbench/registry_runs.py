"""The ``corpus_dedup`` workload: registered queries called through
``QuerySpec.fn``.

One pass calls the persisted keeper-store stream of each of the three
keeper layers: the text MinHash keeper of ``dedup``, the image dHash
keeper of ``multimodal.phash`` and the sequence packer of
``text.corpus``. Each is a driver-bound foreachBatch stream that reads its
kept store and writes ledger (and, for the two dedup keepers, index)
entries each trigger. Each call is timed from ``fn`` to its collected
result; outputs are checked against the registered DuckDB oracles
afterwards.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import nullcontext

import pandas as pd

from perfbench import fixtures
from perfbench.oracle import compare_frames, run_oracle
from perfbench.trace import dir_usage

CORPUS = (
    "stream_text_minhash_keeper_dedup_persisted",
    "stream_media_phash_keeper_dedup_persisted",
    "stream_pack_training_sequences_persisted",
)
# The first pass is cold (about 25 s against 11 s warm on a 4-core VM):
# it plans and compiles every trigger path, so it is set-up. One warm pass
# is measured at least, more while --seconds last; the run then fits the
# benchmark's time budget.
WARMUP_PASSES = 1
MIN_PASSES = 1


def _call(ctx, spec, sf_dir: str, stats: dict) -> tuple[list, list[str], float]:
    """One timed call: plan build plus eager work in ``fn``, then collect."""
    from spark_streaming_twitter_spark.catalog import release_staged

    release_staged()  # each call pays its own staging
    tracer = ctx.tracer
    t0 = time.time()
    with tracer.span("registry", spec.name):
        df = spec.fn(ctx.spark, sf_dir)
    if ctx.trace:
        with tracer.span("catalyst", spec.name):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
    with tracer.span("exec", spec.name):
        rows = df.collect()
    elapsed = time.time() - t0
    if ctx.trace:
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            ph = phases.get(phase)
            if ph.isDefined():
                stats[f"catalyst.{phase}_ms"] += float(ph.get().durationMs())
    return rows, list(df.columns), elapsed


class _StoreSampler:
    """Peak bytes and files under the temp dir while keeper stores are live."""

    def __init__(self, path: str) -> None:
        self.path, self.peak = path, (0.0, 0.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            b, f = dir_usage(self.path)
            self.peak = (max(self.peak[0], b), max(self.peak[1], f))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def run_corpus(ctx) -> dict:
    from spark_streaming_twitter_spark.catalog import TABLES
    from spark_streaming_twitter_spark.registry import load_all

    sf_dir = os.path.join(ctx.work, "fixture")
    fixtures.write(ctx.seed, sf_dir)
    with ctx.tracer.span("registry", "load_all"):
        specs = {n: load_all()[n] for n in CORPUS}
    stats = dict.fromkeys(
        ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms"), 0.0
    )
    for _ in range(WARMUP_PASSES):  # part of set-up
        for spec in specs.values():
            _call(ctx, spec, sf_dir, dict(stats))
    ctx.mark_measure_start(time.time())
    passes, latencies, results = [], [], {}
    with _StoreSampler(ctx.tmp) if ctx.trace else nullcontext() as sampler:
        while len(passes) < MIN_PASSES or time.time() - ctx.measure_start < ctx.seconds:
            p0 = time.time()
            for spec in specs.values():
                rows, cols, elapsed = _call(ctx, spec, sf_dir, stats)
                latencies.append(elapsed * 1000.0)
                results.setdefault(spec.name, []).append((rows, cols))
            passes.append(time.time() - p0)
    ctx.mark_measure_end(time.time())
    errors = []
    for name, calls in results.items():  # every call returns the first's rows
        first = sorted(map(tuple, calls[0][0]), key=repr)
        errors += [
            f"{name}: call {i} returned other rows than call 0"
            for i, (rows, _) in enumerate(calls[1:], 1)
            if sorted(map(tuple, rows), key=repr) != first
        ]
    with ctx.tracer.span("check", "oracle"):
        for name, calls in results.items():
            rows, cols = calls[0]
            got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
            want = run_oracle(specs[name].oracle, sf_dir, TABLES)
            errors += [f"{name}: {m}" for m in compare_frames(got, want)]
    layers = {k: v / len(passes) for k, v in stats.items()}
    if sampler is not None:
        layers["store.bytes"], layers["store.files"] = sampler.peak
    wall = statistics.median(passes)
    return {
        "latencies_ms": latencies,
        "call_latency_ms": latencies,
        "wall_s": wall,
        "passes": passes,
        "throughput_eps": len(CORPUS) / wall,
        "attempted": len(latencies) + len(results),
        "errors": errors,
        "layers": layers,
    }

