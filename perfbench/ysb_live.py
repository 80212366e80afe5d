"""Live YSB: the paced rate-source replay for latency, a backlog for
throughput.

The rate source (``sources.replay.paced_replay``) replays the events
table in a loop, each row stamped with the generator's due time, into
``streaming.ysb.ysb_streaming`` (10 s window, 1 s watermark, update
mode) joined with ``customer``. A foreachBatch sink owned by the
benchmark collects every micro-batch; a result row's latency runs from
the due time of the newest event it counts (``last_update_ms``) to the
moment its batch's ``collect()`` returned.

Phases, each its own streaming query: a warm-up (after the timed
set-up, not measured), a fixed-rate phase at 500k rows/s for latency,
and a throughput phase that reads a backlog in 28M-row micro-batches,
measured on batches two to four (the first carries the query's
start-up). NOTES.md says why these rates.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import tempfile
import time

import numpy as np
import pyarrow.parquet as pq

from closed_loop import p50_p95
from probes import SparkCounters, live_heap_mb, streaming_totals

WINDOW = "10 seconds"
WATERMARK = "1 second"
PARTITIONS = 4
FIXED_RATE = 500_000
# Throughput phase: a backlog read in micro-batches of OVER_ROWS rows
# (LOCAL1_ROWS on one core), OVER_BATCHES of them measured after the
# first. Not the paced source: it sizes an over-driven batch by the
# whole seconds the batch before took (28M, 56M or 112M rows at 28M
# rows/s), and with fixed per-batch costs the rate follows that size.
OVER_ROWS = 28_000_000
LOCAL1_ROWS = 8_000_000
OVER_BATCHES = 3
WARM_BATCHES = 2
PHASE_TIMEOUT_S = 60.0


def rotation(seed: int, n: int) -> int:
    """The seed's replay starting row."""
    return random.Random(seed).randrange(n)


def build_stream(spark, data_dir: str, rot: int, rate: int, backlog: bool = False):
    """The live pipeline; value ``v`` of the rate source replays event
    row ``(v + rot) % n`` in ``event_id`` order. With ``backlog`` the
    source is Spark's ``rate-micro-batch`` instead: ``rate`` rows in
    every micro-batch, one second of event time apart, run back to back
    — a backlog read at a fixed batch size."""
    from pyspark.sql import functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.sources.replay import paced_replay, with_index
    from streambench_spark.streaming.ysb import ysb_streaming

    ev = load_table(spark, data_dir, "events").drop("ts")
    n = ev.count()
    lookup = with_index(ev, "event_id", precounted=n).withColumn(
        "idx", F.pmod(F.col("idx") - F.lit(rot), F.lit(n)))
    if backlog:
        stream = (spark.readStream.format("rate-micro-batch")
                  .option("rowsPerBatch", rate).option("numPartitions", PARTITIONS)
                  .option("startTimestamp", int(time.time() * 1000)).load())
        # paced_replay's looping join, over a source it does not offer
        replay = stream.select(F.pmod("value", F.lit(n)).alias("idx"),
                               F.col("timestamp").alias("ts")
                               ).join(F.broadcast(lookup), "idx").drop("idx")
    else:
        replay = paced_replay(spark, lookup, rate, num_partitions=PARTITIONS, ts_col="ts")
    return ysb_streaming(replay, load_table(spark, data_dir, "customer"),
                         window=WINDOW, watermark=WATERMARK)


class Sink:
    """foreachBatch handler: collect, then stamp."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.batches: dict[int, dict] = {}

    def __call__(self, df, batch_id: int) -> None:
        entry_ms = time.time() * 1000
        with self.tracer.span("sinks.handler", batch=batch_id):
            rows = df.collect()
        self.batches[batch_id] = {
            "entry_ms": entry_ms,
            "done_ms": time.time() * 1000,
            "rows": [(r["time_window"], r["segment"], r["count"], r["last_update_ms"])
                     for r in rows],
        }


def run_phase(spark, recorder, data_dir, rot, rate, scratch, tracer, name,
              until, backlog: bool = False) -> dict:
    """Run one streaming query until ``until(data_batches)`` holds for
    the list of completed data batches' progress, then stop it. Returns
    progress and sink records of the batches that completed both."""
    sink = Sink(tracer)
    # Update mode emits on data batches only. With no-data batches on,
    # each watermark advance adds a ~0.5 s batch (mostly state commit)
    # that can overrun the next second's data, and latency at any rate
    # this host sustains swung 0.9-2.3 s between identical runs.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    with tracer.span("plans.build", phase=name):
        sdf = build_stream(spark, data_dir, rot, rate, backlog)
    with tracer.span(f"phase.{name}"):
        # Start on a wall-clock second, so the rate source's one-second
        # offsets line up with the epoch-aligned windows. Otherwise the
        # rows closing a window wait for the rest of their offset second
        # — up to a second more, set by each run's start instant — and
        # latency p95 spread 40% between identical runs.
        time.sleep(1 - time.time() % 1)
        q = (sdf.writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", tempfile.mkdtemp(dir=scratch)).start())
        deadline = time.monotonic() + PHASE_TIMEOUT_S
        try:
            while time.monotonic() < deadline:
                if q.exception() is not None:
                    raise RuntimeError(f"{name} phase failed: {q.exception()}")
                data = [p for p in recorder.for_query(q.id) if p.numInputRows]
                if until(data):
                    break
                time.sleep(0.02)
            else:
                raise TimeoutError(f"{name} phase made no progress")
        finally:
            q.stop()
    progress = sorted(recorder.for_query(q.id), key=lambda p: p.batchId)
    progress = [p for p in progress if p.batchId in sink.batches]
    return {"progress": progress, "sink": sink.batches}


def expected_view_rows(data_dir: str, rot: int, offsets: int) -> int:
    """View events joined with customer among rate values [0, offsets)."""
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"),
                       columns=["event_id", "user_id", "event_type"]).sort_by("event_id")
    keys = pq.read_table(os.path.join(data_dir, "customer.parquet"),
                         columns=["c_custkey"]).column(0).to_numpy()
    hit = ((ev.column("event_type").to_numpy(zero_copy_only=False) == "view")
           & np.isin(ev.column("user_id").to_numpy(), keys)).astype(np.int64)
    n = len(hit)
    rotated = np.roll(hit, -rot)  # rotated[j] = hit[(j + rot) % n]
    return int(offsets // n * hit.sum() + rotated[: offsets % n].sum())


def counts_match(phase: dict, data_dir: str, rot: int) -> bool:
    """Final per-key counts sum to the view-joined rows of the rate
    offsets the completed batches consumed."""
    final: dict = {}
    for p in phase["progress"]:
        for tw, seg, count, _ in phase["sink"][p.batchId]["rows"]:
            final[(tw, seg)] = count
    offsets = sum(p.numInputRows for p in phase["progress"])
    return sum(final.values()) == expected_view_rows(data_dir, rot, offsets)


def warm(spark, recorder, data_dir, rot, scratch, tracer) -> None:
    run_phase(spark, recorder, data_dir, rot, FIXED_RATE, scratch, tracer, "warmup",
              lambda data: len(data) >= WARM_BATCHES)


def burst_rate(phase: dict) -> float:
    """Rows per second of micro-batch time over OVER_BATCHES data batches
    of a throughput phase, after the first, which carries the query's
    start-up (first-batch planning, state-store set-up)."""
    burst = [p for p in phase["progress"] if p.numInputRows][1:OVER_BATCHES + 1]
    return sum(p.numInputRows for p in burst) * 1000 / sum(
        p.durationMs["triggerExecution"] for p in burst)


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def measure(spark, recorder, data_dir, rot, seconds, scratch, tracer,
            traced: bool) -> dict:
    """The fixed-rate and throughput phases; returns end-to-end metrics,
    the correctness tally and, when traced, the layer metrics."""
    counters = SparkCounters(spark) if traced else None
    mark = counters.last_job_id() if counters else None
    t0 = time.monotonic()
    fixed = run_phase(spark, recorder, data_dir, rot, FIXED_RATE, scratch, tracer, "fixed",
                      lambda data: time.monotonic() - t0 >= seconds and len(data) >= 3)
    fixed_jobs = counters.jobs_since(mark) if counters else None
    # Read after the fixed-rate phase, whose batches are small. Stopping
    # the throughput query can leave tasks of a large batch winding
    # down; with a read after that phase too, the peak swung 125-281 MB
    # between identical runs.
    live_mb = live_heap_mb(spark)
    over = run_phase(spark, recorder, data_dir, rot, OVER_ROWS, scratch, tracer, "over",
                     lambda data: len(data) > OVER_BATCHES, backlog=True)

    # the first data batch of a query carries its start-up; latency is
    # read from the batches after it
    data = [p for p in fixed["progress"] if p.numInputRows][1:]
    latencies = [
        fixed["sink"][p.batchId]["done_ms"] - lu
        for p in data for (_, _, _, lu) in fixed["sink"][p.batchId]["rows"]
    ]
    rows_per_s = burst_rate(over)
    p50, p95 = p50_p95(latencies)
    checks = [counts_match(fixed, data_dir, rot), counts_match(over, data_dir, rot)]
    out = {
        "e2e": {
            # micro-batch time of the measured backlog batches
            "wall_s": OVER_BATCHES * OVER_ROWS / rows_per_s,
            "latency_p50_ms": p50,
            "latency_p95_ms": p95,
            "max_rows_per_s": rows_per_s,
        },
        "attempted": len(checks),
        "failed": checks.count(False),
        "samples": len(latencies),
        "over_batches": [(p.numInputRows, p.durationMs["triggerExecution"])
                         for p in over["progress"] if p.numInputRows],
        "live_heap_mb": live_mb,
    }
    if traced:
        handler = [fixed["sink"][p.batchId]["done_ms"] - fixed["sink"][p.batchId]["entry_ms"]
                   for p in data]
        lag = [_iso_ms(p.timestamp) - max(r[3] for r in fixed["sink"][p.batchId]["rows"])
               for p in data if fixed["sink"][p.batchId]["rows"]]
        layers = streaming_totals(fixed["progress"])
        layers.update({f"operators.{k}": v for k, v in fixed_jobs.items()})
        layers.update({
            "sinks.handler_ms": statistics.median(handler),
            "sources.lag_ms": statistics.median(lag),
            "plans.build_s": tracer.total("plans.build", phase="fixed"),
            "sinks.latency_samples": len(latencies),
        })
        out["layers"] = layers
    return out


def local1_point(scratch: str, data_dir: str, rot: int, tracer) -> float:
    """Throughput-phase rows/s of the same pipeline on ``local[1]``: the
    single-threaded baseline (traced runs only, not gated)."""
    import engine
    from probes import ProgressRecorder

    spark = engine.start(scratch, master="local[1]")
    recorder = ProgressRecorder()
    spark.streams.addListener(recorder)
    try:  # the JVM is already warm from the local[4] session
        over = run_phase(spark, recorder, data_dir, rot, LOCAL1_ROWS, scratch, tracer,
                         "local1", lambda data: len(data) > OVER_BATCHES, backlog=True)
    finally:
        engine.stop(spark)
    if not counts_match(over, data_dir, rot):
        print("perfbench: local[1] counts mismatch", file=sys.stderr)
        return 0.0
    return burst_rate(over)
