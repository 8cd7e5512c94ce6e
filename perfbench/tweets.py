"""The reference's three continuous queries over a Kafka-shaped tweet stream.

Q1 counts hashtags per sliding 30 s / 5 s window, Q2 counts tweets per
second and Q3 keeps the running total. Each runs in update mode behind a
300 s watermark, through ``as_points`` into
``parquet_epoch_overwrite_writer``. The benchmark times every sink call
and maps epochs to input files through each query's checkpoint, so an
event's latency runs from its creation to the end of the last of the
three sink writes that include it. After the live window, bursts of the
same traffic published all at once and caught up by the running queries
give the engine's capacity.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from perfbench.loadgen import (
    StreamSpec,
    creation_offsets_ms,
    file_name,
    publish,
    render_file,
    spec_json,
)
from perfbench.oracle import compare_frames
from perfbench.trace import Tracer

WATERMARK = "300 seconds"
QUERIES = ("q1_trending", "q2_per_second", "q3_total")


def tweet_queries(spark: SparkSession, src_dir: str, tracer: Tracer) -> dict[str, DataFrame]:
    """Q1/Q2/Q3 as point streams over the text file source at ``src_dir``."""
    from spark_streaming_twitter_spark.operators.trending import extract_hashtags
    from spark_streaming_twitter_spark.operators.windows import tumbling_counts
    from spark_streaming_twitter_spark.sources.tweets import parse_tweets
    from spark_streaming_twitter_spark.streaming.sinks import as_points

    with tracer.span("sources", "readStream.text"):
        raw = spark.readStream.option("pathGlobFilter", "*.json").text(src_dir)
        # the Kafka source's (key, value) binary columns
        kafka_shaped = raw.select(
            F.lit(None).cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
        )
    with tracer.span("operators", "parse_tweets"):
        tweets = parse_tweets(kafka_shaped)
    with tracer.span("operators", "extract_hashtags"):
        tags = extract_hashtags(tweets.withWatermark("ts", WATERMARK), "text")
    with tracer.span("operators", "windows"):
        q1 = (
            tags.groupBy(F.window("ts", "30 seconds", "5 seconds").alias("w"), "hashtag")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.end").alias("window_end"), "hashtag", "n")
        )
        q2 = tumbling_counts(tweets.withWatermark("ts", WATERMARK), "ts", "1 second")
        q3 = tweets.groupBy().agg(
            F.count(F.lit(1)).alias("total"), F.max("ts").alias("last_ts")
        )
    # Q2/Q3 points carry one constant tag: a point's tag map is never empty
    with tracer.span("streaming.sinks", "as_points"):
        return {
            "q1_trending": as_points(
                q1, "TrendingHashTagSpark", "window_end", ["hashtag"], ["n"]
            ),
            "q2_per_second": as_points(
                q2.withColumn("unit", F.lit("s")),
                "TweetPerSecondCountSpark",
                "bucket_ts",
                ["unit"],
                ["n"],
            ),
            "q3_total": as_points(
                q3.withColumn("unit", F.lit("all")),
                "TotalTweetCountSpark",
                "last_ts",
                ["unit"],
                ["total"],
            ),
        }


class SinkLog:
    """Wall-clock start/end of every sink write, per query and epoch."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.writes: dict[str, dict[int, tuple[float, float]]] = {q: {} for q in QUERIES}
        self._lock = threading.Lock()

    def writer(self, query: str, path: str):
        from spark_streaming_twitter_spark.streaming.sinks import (
            parquet_epoch_overwrite_writer,
        )

        inner = parquet_epoch_overwrite_writer(path)

        def write(batch_df: DataFrame, epoch_id: int) -> None:
            t0 = time.time()
            with self.tracer.span("streaming.sinks", f"{query}:{epoch_id}"):
                inner(batch_df, epoch_id)
            with self._lock:
                self.writes[query][epoch_id] = (t0, time.time())

        return write

    def write_ms(self) -> list[float]:
        return [
            (e - s) * 1000.0 for w in self.writes.values() for s, e in w.values()
        ]


def _log_entries(path: str) -> list[str]:
    with open(path) as f:
        return [ln for ln in f.read().splitlines()[1:] if ln.strip()]


def file_epochs(checkpoint: str) -> dict[str, int]:
    """Input file name -> epoch that read it, from a file-source checkpoint.

    ``sources/0`` logs each file under the source offset that admitted it;
    ``offsets/<epoch>`` records the source offset each epoch ran up to.
    """
    file_offset: dict[str, int] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if p.endswith((".crc", ".tmp")) or os.path.basename(p).startswith("."):
            continue
        for ln in _log_entries(p):
            e = json.loads(ln)
            file_offset[os.path.basename(e["path"])] = int(e["batchId"])
    epoch_offset = []
    for p in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(p)
        if not name.isdigit():
            continue
        entries = _log_entries(p)
        src = json.loads(entries[-1]) if entries else None
        if src:
            epoch_offset.append((int(src["logOffset"]), int(name)))
    epoch_offset.sort()
    offsets = np.array([o for o, _ in epoch_offset], dtype=np.int64)
    out = {}
    for f, off in file_offset.items():
        i = int(np.searchsorted(offsets, off, side="left"))
        if i < len(epoch_offset):
            out[f] = epoch_offset[i][1]
    return out


def file_done(
    checkpoints: dict[str, str], writes: dict[str, dict[int, tuple[float, float]]]
) -> dict[str, float]:
    """Input file -> end of the last sink write (over all queries) that read it."""
    done: dict[str, float] = {}
    per_query = {q: file_epochs(ck) for q, ck in checkpoints.items()}
    files = set.intersection(*(set(m) for m in per_query.values()))
    for f in files:
        ends = [writes[q].get(per_query[q][f]) for q in checkpoints]
        if all(ends):
            done[f] = max(e for _, e in ends)
    return done


def live_latencies_ms(
    spec: StreamSpec, base_ms: int, files: range, done: dict[str, float]
) -> np.ndarray:
    """Per-event latency: sink completion minus the event's creation time."""
    out = []
    for k in files:
        end = done.get(file_name(k))
        if end is None:
            raise RuntimeError(f"{file_name(k)} never reached all three sinks")
        out.append(end * 1000.0 - (base_ms + creation_offsets_ms(spec, k)))
    return np.concatenate(out)


def backlog_series(
    manifest: list[dict], done: dict[str, float], t0: float, t1: float
) -> list[int]:
    """Events published but not yet in all sinks, sampled at each completion."""
    pub = sorted((m["published_ms"] / 1000.0, m["events"]) for m in manifest)
    fin = sorted(
        (done[file_name(m["k"])], m["events"]) for m in manifest if file_name(m["k"]) in done
    )
    samples = sorted({t for t, _ in fin if t0 <= t <= t1})
    out = []
    for t in samples:
        published = sum(n for p, n in pub if p <= t)
        finished = sum(n for d, n in fin if d <= t)
        out.append(published - finished)
    return out


def backlog_grew(series: list[int], rate: int) -> bool:
    """True when the last third's mean backlog exceeds the first third's by
    more than one second of input: the engine is not keeping up."""
    if len(series) < 6:
        return False
    third = len(series) // 3
    return float(np.mean(series[-third:])) > float(np.mean(series[:third])) + rate


def final_points(spark: SparkSession, path: str, key=("time", "tags")) -> DataFrame:
    """The last value written for each point key over all epochs."""
    pts = spark.read.parquet(path)
    w = Window.partitionBy(*key).orderBy(F.col("epoch").desc())
    return (
        pts.withColumn("tags", F.map_entries("tags"))  # maps cannot be grouped
        .withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .drop("__rn")
    )


# json_valid guards each extraction inside CASE: DuckDB may evaluate WHERE
# predicates in any order, and extracting from a malformed line raises.
_ORACLE_TWEETS = """
CREATE TEMP TABLE tw AS
SELECT text, ts_ms FROM (
  SELECT CASE WHEN json_valid(line)
              THEN json_extract_string(line, '$.text') END AS text,
         CASE WHEN json_valid(line)
              THEN CAST(json_extract_string(line, '$.timestamp') AS BIGINT)
         END AS ts_ms
  FROM (SELECT unnest(string_split(content, chr(10))) AS line
        FROM read_text('{glob}'))
)
WHERE text IS NOT NULL
"""

_ORACLE_Q1 = """
WITH tags AS (
  SELECT ts_ms, unnest(regexp_extract_all(text, '#\\w+')) AS hashtag FROM tw
),
win AS (
  SELECT hashtag, (ts_ms // 5000) * 5000 - k * 5000 + 30000 AS window_end_ms
  FROM tags, range(0, 6) r(k)
),
counts AS (SELECT window_end_ms, hashtag, count(*) AS n FROM win GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_end_ms
                               ORDER BY n DESC, hashtag ASC) AS rn
  FROM counts
)
SELECT window_end_ms, hashtag AS top_term, n AS term_count FROM ranked WHERE rn = 1
"""


def tweet_oracle(src_glob: str) -> dict[str, pd.DataFrame]:
    """Expected Q1 (top hashtag per window), Q2 and Q3, from DuckDB over the
    published input files."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(_ORACLE_TWEETS.format(glob=src_glob))
        return {
            "q1_trending": con.execute(_ORACLE_Q1).fetchdf(),
            "q2_per_second": con.execute(
                "SELECT ts_ms // 1000 AS sec, count(*) AS n FROM tw GROUP BY 1"
            ).fetchdf(),
            "q3_total": con.execute("SELECT count(*) AS total FROM tw").fetchdf(),
        }
    finally:
        con.close()


def check_tweets(
    spark: SparkSession, want: dict[str, pd.DataFrame], sinks: dict[str, str]
) -> list[str]:
    """Compare the final sink state of Q1/Q2/Q3 with ``tweet_oracle``'s."""
    from spark_streaming_twitter_spark.operators.trending import trending

    q1 = final_points(spark, sinks["q1_trending"]).select(
        F.unix_millis("time").alias("window_end_ms"),
        F.col("tags")[0]["value"].alias("hashtag"),
        F.col("fields")["n"].cast("long").alias("n"),
    )
    # trending() counts rows, so replay each final count as that many rows
    occurrences = q1.select(
        "window_end_ms", "hashtag", F.explode(F.array_repeat(F.lit(1), F.col("n").cast("int")))
    )
    got_q1 = (
        trending(occurrences, ["window_end_ms"], term_col="hashtag")
        .select("window_end_ms", "top_term", "term_count")
        .toPandas()
    )
    got_q2 = (
        final_points(spark, sinks["q2_per_second"])
        .select(
            F.unix_seconds("time").alias("sec"),
            F.col("fields")["n"].cast("long").alias("n"),
        )
        .toPandas()
    )
    got_q3 = (
        # the running total's point time moves with the stream: one key
        final_points(spark, sinks["q3_total"], key=("tags",))
        .select(F.col("fields")["total"].cast("long").alias("total"))
        .toPandas()
    )
    got = {"q1_trending": got_q1, "q2_per_second": got_q2, "q3_total": got_q3}
    return [f"{q}: {m}" for q in QUERIES for m in compare_frames(got[q], want[q])]


# --- workloads ---------------------------------------------------------------

# One open-loop rate, well below what the engine drains as a backlog
# (throughput_eps). The rate follows the sizing of the workload; the traffic
# shape (Zipf exponent, vocabulary, hashtags per tweet, late and malformed
# shares) is an unverified stand-in chosen by hand, not taken from a
# measured tweet sample, until such a sample is in the repository.
LIVE = StreamSpec(
    rate=2000,
    period_ms=250,
    vocab=2000,
    zipf=1.1,
    disorder_share=0.05,
    disorder_max_ms=20_000,
    malformed_share=0.002,
)
# Latency falls over the first 10 s of traffic (by about a fifth on a 4-core
# VM) while the JVM compiles the per-trigger path; 12 s of warm-up traffic
# keep that out of the measured window and the run inside its time budget.
LIVE_WARMUP_S = 12.0
LIVE_PRIME_FILES = 2
# The reference triggers every 500 ms, but one trigger of each of the three
# concurrent queries takes about 1 s on a 4-core VM even for a small
# batch. At 500 ms the triggers ran back to back, every run's latency
# followed its own backlog and the middle half of ten runs spread over 0.3
# of the median. At 2 s every trigger ends before the next tick, so a
# tweet's latency is its wait for the tick plus one trigger's work.
LIVE_TRIGGER_MS = 2000

# Capacity: after the live window, BURSTS times, the generator's next
# BURST_FILES periods are published at once (an outage's backlog) and the
# running queries catch up in one trigger each. A burst is timed from its
# publication to the last of the three sink writes that include it; the
# mean burst gives wall_s and throughput_eps: the first burst is the slowest
# in most runs, so the median is the larger of the other two and spreads
# more from run to run than the mean. Fresh queries would pay session and
# query start in every burst, and their times kept falling from one drain
# to the next, so the live queries, warm by then, take them. The
# traced run drains the first burst's files again, with fresh queries, with
# every core and at local[1].
BURSTS = 3
# Above 32 paths (spark.sql.sources.parallelPartitionDiscovery.threshold)
# the file source lists a batch's files with a Spark job of one task per
# file. A Kafka source lists no files, and that job was the most variable
# part of a 60-file burst (0.5 to 1.6 s of getBatch), so a burst stays at 32.
BURST_FILES = 32
# Idle ProcessingTime triggers fire on multiples of the interval of the wall
# clock. Each burst, and every eighth file of the open loop (the last of
# each interval), is published this long before one, so the wait for a
# trigger is the same in every run (publishing a burst takes well under
# this).
TICK_LEAD_MS = 150


def _dirs(work: str, *names: str) -> list[str]:
    out = []
    for n in names:
        p = os.path.join(work, n)
        os.makedirs(p, exist_ok=True)
        out.append(p)
    return out


def before_tick_ms(after_ms: float) -> int:
    """The first instant TICK_LEAD_MS before a trigger tick, from ``after_ms``."""
    tick = -(-int(after_ms + TICK_LEAD_MS) // LIVE_TRIGGER_MS) * LIVE_TRIGGER_MS
    return tick - TICK_LEAD_MS


def publish_burst(stage: str, src: str, seed: int, base_ms: int, k0: int) -> float:
    """Publish periods ``k0 .. k0 + BURST_FILES - 1`` at once, just before a
    trigger tick; returns the publication time."""
    data = [render_file(LIVE, seed, base_ms, k) for k in range(k0, k0 + BURST_FILES)]
    now_ms = time.time() * 1000.0
    time.sleep((before_tick_ms(now_ms) - now_ms) / 1000.0)
    t_pub = time.time()
    for k, d in enumerate(data, k0):
        publish(stage, src, file_name(k), d, time.time_ns())
    return t_pub


def process_all(queries: list) -> None:
    """``processAllAvailable`` on every query at once. Each call returns only
    after a trigger that finds no new data, so one query after another would
    wait a trigger interval per query."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(queries)) as pool:
        for f in [pool.submit(q.processAllAvailable) for q in queries]:
            f.result()


def run_live(ctx) -> dict:
    """Open loop: a separate publisher process at one fixed rate."""
    import subprocess
    import sys

    from spark_streaming_twitter_spark.streaming.harness import (
        _scoped_shuffle_partitions,
    )

    spark, tracer = ctx.spark, ctx.tracer
    src, stage, ck, sink = _dirs(ctx.work, "live/in", "live/stage", "live/ck", "live/sink")
    t0 = time.time()
    with tracer.span("operators", "plan_build"):
        streams = tweet_queries(spark, src, tracer)
    plan_build_ms = (time.time() - t0) * 1000.0
    log = SinkLog(tracer)
    n_warm = int(LIVE_WARMUP_S * 1000) // LIVE.period_ms
    n_meas = -(-int(ctx.seconds * 1000) // LIVE.period_ms)
    manifest_path = os.path.join(ctx.work, "live/manifest.jsonl")
    queries = []
    with _scoped_shuffle_partitions(spark):
        with tracer.span("streaming.harness", "start"):
            for name, sdf in streams.items():
                queries.append(
                    sdf.writeStream.foreachBatch(log.writer(name, os.path.join(sink, name)))
                    .outputMode("update")
                    .trigger(processingTime=f"{LIVE_TRIGGER_MS} milliseconds")
                    .option("checkpointLocation", os.path.join(ck, name))
                    .queryName(name)
                    .start()
                )
        # prime: the first trigger of each query (planning, codegen, state
        # store set-up) runs on a few files from the recent past, before the
        # open loop starts
        now_ms = int(time.time() * 1000)
        for k in range(LIVE_PRIME_FILES):
            data = render_file(LIVE, ctx.seed + 1_000_003, now_ms - 60_000, k)
            publish(stage, src, f"prime-{k:06d}.json", data, time.time_ns())
        with tracer.span("streaming.harness", "prime"):
            process_all(queries)
        # file k is due at base_ms + (k + 1) * period_ms
        base_ms = before_tick_ms(time.time() * 1000 + 1000) - LIVE.period_ms
        gen = subprocess.Popen(
            [
                sys.executable,
                "-m",
                "perfbench.loadgen",
                "--spec",
                spec_json(LIVE),
                "--seed",
                str(ctx.seed),
                "--base-ms",
                str(base_ms),
                "--files",
                str(n_warm + n_meas),
                "--out",
                src,
                "--stage",
                stage,
                "--manifest",
                manifest_path,
            ],
            cwd=ctx.root,
        )
        ctx.children.append(gen)
        try:
            meas_start = (base_ms + n_warm * LIVE.period_ms) / 1000.0
            time.sleep(max(0.0, meas_start - time.time()))
            ctx.mark_measure_start(meas_start)
            rc = gen.wait(timeout=ctx.seconds + LIVE_WARMUP_S + 60)
            if rc != 0:
                raise RuntimeError(f"load generator exited with {rc}")
            with tracer.span("streaming.harness", "processAllAvailable"):
                process_all(queries)
            bursts = []
            for b in range(BURSTS):
                k0 = n_warm + n_meas + b * BURST_FILES
                bursts.append((publish_burst(stage, src, ctx.seed, base_ms, k0), k0))
                with tracer.span("streaming.harness", "processAllAvailable"):
                    process_all(queries)
        finally:
            for q in queries:
                q.stop()
            for q in queries:
                q.awaitTermination()
    with open(manifest_path) as f:
        manifest = [json.loads(ln) for ln in f]
    done = file_done({q: os.path.join(ck, q) for q in QUERIES}, log.writes)
    measured = range(n_warm, n_warm + n_meas)
    lat = live_latencies_ms(LIVE, base_ms, measured, done)
    meas_end = max(done[file_name(k)] for k in measured)
    ctx.mark_measure_end(meas_end)
    series = backlog_series(manifest, done, meas_start, meas_end)
    errors = []
    if backlog_grew(series, LIVE.rate):
        errors.append(f"backlog grew during the measured window: {series}")
    lag = [m["published_ms"] - m["due_ms"] for m in manifest]
    with tracer.span("check", "oracle"):
        want = tweet_oracle(os.path.join(src, "*.json"))
        errors += check_tweets(spark, want, {q: os.path.join(sink, q) for q in QUERIES})
    burst_s = [
        max(done[file_name(k)] for k in range(k0, k0 + BURST_FILES)) - t_pub
        for t_pub, k0 in bursts
    ]
    wall_s = float(np.mean(burst_s))
    layers = {
        "loadgen.events": float(sum(m["events"] for m in manifest)),
        "loadgen.lag_p99_ms": float(np.percentile(lag, 99)),
        "sources.backlog_events_max": float(max(series, default=0)),
        "operators.plan_build_ms": plan_build_ms,
        "sinks.write_ms_p50": float(np.median(log.write_ms())),
    }
    if ctx.trace:
        first = os.path.join(ctx.work, "scaling", "in")
        os.makedirs(first)
        k0 = bursts[0][1]
        for k in range(k0, k0 + BURST_FILES):
            os.link(os.path.join(src, file_name(k)), os.path.join(first, file_name(k)))
        layers.update(scaling(ctx, first, BURST_FILES * LIVE.events_per_file))
    return {
        "latencies_ms": lat,
        # per file, its last event's latency: shows warm-up and drift
        "file_latency_ms": [
            round(done[file_name(k)] * 1000.0 - base_ms - (k + 1) * LIVE.period_ms)
            for k in range(n_warm + n_meas)
        ],
        "wall_s": wall_s,
        "throughput_eps": BURST_FILES * LIVE.events_per_file / wall_s,
        "burst_s": burst_s,
        "attempted": 3 + len(lat),
        "errors": errors,
        "layers": layers,
        "sink_dirs": [sink],
    }


def _drain(ctx, src: str, ck_root: str, sink: str, log: SinkLog) -> None:
    """Drain ``src`` with the three queries concurrently, each through
    ``run_foreach_batch`` in its own session (a session carries its own
    checkpoint root)."""
    from concurrent.futures import ThreadPoolExecutor

    from spark_streaming_twitter_spark.streaming.harness import run_foreach_batch

    streams = {}
    for name in QUERIES:
        session = ctx.spark.newSession()
        if ctx.listener is not None:  # listeners belong to one session
            session.streams.addListener(ctx.listener)
        session.conf.set(
            "spark.sql.streaming.checkpointLocation", os.path.join(ck_root, name)
        )
        streams[name] = tweet_queries(session, src, ctx.tracer)[name]
    with ThreadPoolExecutor(len(streams)) as pool:
        futures = [
            pool.submit(
                ctx.with_tags, run_foreach_batch, sdf, log.writer(name, os.path.join(sink, name))
            )
            for name, sdf in streams.items()
        ]
        for f in futures:
            f.result()


def scaling(ctx, src: str, events: int) -> dict:
    """Drain ``src`` with fresh queries with every core, then again at
    local[1]: the single-threaded baseline of the same job."""
    from spark_streaming_twitter_spark.session import get_spark

    out = {}
    for label in ("ncore", "1core"):
        if label == "1core":
            ctx.spark.stop()
            ctx.spark = get_spark(master="local[1]")
        log = SinkLog(Tracer(False, ""))
        root = os.path.join(ctx.work, "scaling", label)
        t0 = time.time()
        _drain(ctx, src, os.path.join(root, "ck"), os.path.join(root, "sink"), log)
        end = max(e for w in log.writes.values() for _, e in w.values())
        out[f"scaling.throughput_eps_{label}"] = events / (end - t0)
    return out
