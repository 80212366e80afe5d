"""M4 trial loop + M1/M3 metric assembly.

A trial = start the YSB streaming pipeline (S1 generator or S7 file
replay) against a sink, measure, stop, report one metric tuple:

    {totalDurationMillis, rows, throughput_rows_per_s,
     latency min/avg/p95/p99/max ms}

matching the reference's report (YahooBenchmark.scala:63-73 — throughput
crossJoin latency; SparkYahooRunner.scala:119-145 — grouped max → diff →
percentiles). Latency clock: per-micro-batch foreachBatch arrival time
minus the batch's max last_update event time — the Kafka-free analog of
the broker LogAppendTime diff (documented in SURVEY.md §7.3).

The trial loop (run_benchmark) runs warmup + measured trials in sequence
on one session, like Benchmark.scala:59-126.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streambench_spark.bench.params import BenchParams
from streambench_spark.plans.ysb import ysb_query
from streambench_spark.sinks.sinks import latency_marking_sink
from streambench_spark.sources import generators as gen
from streambench_spark.streaming.listeners import ThroughputListener
from streambench_spark.streaming.ysb import start_query, ysb_streaming


def latency_analysis(captured: DataFrame, group_keys: list[str],
                     arrival_col: str, event_col: str) -> DataFrame:
    """M3, the reference's exact composition (SparkYahooRunner.scala:
    119-145): per group take max(arrival) and max(event last-update),
    diff them, then the one-row min/avg/p95/p99/max report.

    ``captured`` is the output capture (Kafka read-back in the reference,
    any sink capture here) with an arrival-clock column and the event-time
    column, both epoch millis. Runs fully distributed: grouped max →
    projection → global aggregate; only the 1-row report reaches the
    driver."""
    from pyspark.sql import functions as F

    from streambench_spark.operators.aggregates import global_percentiles

    diffs = (
        captured.groupBy(*group_keys)
        .agg(
            F.max(arrival_col).alias("_arr"),
            F.max(event_col).alias("_ev"),
        )
        .select((F.col("_arr") - F.col("_ev")).alias("diff"))
    )
    return global_percentiles(diffs, "diff", exact=False)


def latency_report(samples_ms: list[float]) -> dict[str, float]:
    """min/avg/p95/p99/max over latency samples — the exact aggregate the
    reference computes driver-side (SparkYahooRunner.scala:139-144).
    Nearest-rank percentiles on the sorted samples (driver-side: the
    sample count is O(number of micro-batches), tiny by construction —
    the per-row work happened distributed in the sink's agg)."""
    if not samples_ms:
        return {k: 0.0 for k in ("min", "avg", "p95", "p99", "max")}
    s = sorted(samples_ms)
    n = len(s)

    def pct(p: float) -> float:
        import math

        return s[min(n - 1, max(0, math.ceil(p * n) - 1))]

    return {
        "min": float(s[0]),
        "avg": float(sum(s) / n),
        "p95": float(pct(0.95)),
        "p99": float(pct(0.99)),
        "max": float(s[-1]),
    }


def _ysb_stream(spark: SparkSession, params: BenchParams) -> DataFrame:
    """S1 rate-source generator → YSB plan, at the param registry's shape.

    The generator emits the YSB event schema (ad_id keyed); remap to the
    plan's (user_id, ts) contract via the campaign dim used as the join
    table — here the generated campaigns table IS the dim."""
    campaigns = gen.gen_campaigns(
        spark, params.num_campaigns, params.ads_per_campaign
    )
    events = gen.gen_events_stream(
        spark,
        campaigns,
        rows_per_second=params.rows_per_second,
        num_partitions=params.num_partitions,
        ramp_up_seconds=params.ramp_up_seconds,
    )
    # Adapt generator schema → ysb_query contract (events: user_id/ts/
    # event_type; dim: c_custkey/c_mktsegment).
    ev = events.select(
        F.col("ad_id").alias("user_id"),
        F.col("event_time").alias("ts"),
        F.col("event_type"),
    )
    dim = campaigns.select(
        F.col("ad_id").alias("c_custkey"), F.col("campaign_id").alias("c_mktsegment")
    )
    return ysb_streaming(ev, dim, window=params.window, watermark=params.watermark)


def run_throughput_trial(
    spark: SparkSession, params: BenchParams, source: DataFrame | None = None
) -> dict:
    """M1: one timed trial into a noop sink, throughput from the listener.

    ``source`` overrides the generator with a caller-built streaming YSB
    DataFrame (e.g. bounded file replay for deterministic tests)."""
    sdf = source if source is not None else _ysb_stream(spark, params)
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    t0 = time.time()
    try:
        q = start_query(
            sdf,
            fmt="noop",
            mode="update",
            available_now=source is not None,
            # availableNow and processingTime triggers are mutually
            # exclusive in Spark: a bounded source drains availableNow,
            # so the cadence knob applies to the live generator only
            trigger_interval_ms=(
                None if source is not None else params.trigger_interval_ms
            ),
        )
        listener.bind(q.id)
        if source is not None:
            ok = q.awaitTermination(params.duration_s + 300)
            if not ok:
                q.stop()
                raise TimeoutError("bounded throughput trial did not drain")
        else:
            time.sleep(params.duration_s)
            q.stop()
            q.awaitTermination(60)
        # the listener bus is async; give it a moment to deliver the last
        # progress + terminated events before reading the counters
        for _ in range(50):
            if listener.end_ms is not None:
                break
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    total_ms = (time.time() - t0) * 1000
    return {
        "totalDurationMillis": round(total_ms, 1),
        "rows": listener.rows,
        "throughput_rows_per_s": round(listener.throughput_rows_per_s, 1),
    }


def run_latency_trial(
    spark: SparkSession,
    params: BenchParams,
    source: DataFrame | None = None,
) -> dict:
    """M3: one trial through the latency-marking sink; per-batch latency =
    arrival wall clock − max event last_update in the batch. Empty
    micro-batches (rows == 0) carry no sample."""
    sdf = source if source is not None else _ysb_stream(spark, params)
    collector: list = []
    t0 = time.time()
    q = latency_marking_sink(sdf, collector, mode="update",
                             available_now=source is not None)
    if source is not None:
        ok = q.awaitTermination(params.duration_s + 300)
        if not ok:
            q.stop()
            raise TimeoutError("bounded latency trial did not drain")
    else:
        time.sleep(params.duration_s)
        q.stop()
        q.awaitTermination(60)
    total_ms = (time.time() - t0) * 1000
    samples = [r[0] - r[2] for r in collector if r[1] and r[2] is not None]
    report = latency_report(samples)
    # keys prefixed so t.update() in run_benchmark can't clobber the
    # throughput trial's totalDurationMillis
    return {
        "latency_total_ms": round(total_ms, 1),
        "latency_batches": len(collector),
        "latency_samples": len(samples),
        **{f"latency_{k}_ms": round(v, 1) for k, v in report.items()},
    }


def run_benchmark(
    spark: SparkSession,
    params: BenchParams | None = None,
    source_factory=None,
) -> dict:
    """M4: warmup + measured trials; per-trial tuples + median-of-trials.

    ``source_factory()`` (optional) builds a fresh bounded source per
    trial for deterministic benchmarking without the wall-clock generator.
    """
    import statistics

    params = params or BenchParams.from_env()
    trials = []
    for i in range(params.warmup_trials + params.trials):
        src = source_factory() if source_factory is not None else None
        t = run_throughput_trial(spark, params, source=src)
        if source_factory is None:
            # latency = arrival wall clock − max event time is only
            # meaningful when event times are LIVE (the generator). A
            # bounded replay source carries the frozen table's 2024
            # timestamps, so the difference would be clock skew, not
            # pipeline latency — skip rather than publish garbage.
            t.update(run_latency_trial(spark, params))
        t["trial"] = i
        t["warmup"] = i < params.warmup_trials
        trials.append(t)
    measured = [t for t in trials if not t["warmup"]]
    med = (
        statistics.median(t["throughput_rows_per_s"] for t in measured)
        if measured
        else None
    )
    return {
        "params": params.to_map(),
        "trials": trials,
        "median_throughput_rows_per_s": med,
    }
