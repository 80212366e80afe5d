"""Closed-loop workloads: registry queries run one after another.

Each query is timed in two calls: the registry function
``REGISTRY[name].fn`` (plan build, including any eager checkpoint, count
or — for the streaming drains — the whole availableNow drain) and a
``noop`` write (execution). The result is then collected, untimed, and
compared with the query's DuckDB oracle, and the live JVM heap is read.
"""

from __future__ import annotations

import random
import statistics
import sys
import threading
import time

from probes import ProgressRecorder, SparkCounters, live_heap_mb, streaming_totals

# Bounded availableNow drains, with state in the JVM state store
# (aggregate with watermark, stream-stream join) and in Python
# (applyInPandasWithState); per-batch planning and state commit
# dominate them.
DRAINS = [
    "ysb_streaming_append",
    "stateful_running_counts",
    "interval_join_streaming",
]

# Batch queries: relational and TPC-H, graph ranking (eager
# localCheckpoint per round) and text dedup; shuffle, checkpoints and
# block-store residency dominate them.
BATCH = [
    "ysb",
    "tpch_q3_shipping_priority",
    "copurchase_pagerank",
    "exact_dedup",
]

REGISTRY_MIX = DRAINS + BATCH
WARM_QUERY = "ysb_streaming"

FAMILY = {
    **{name: "streaming.drains_s" for name in DRAINS},
    "copurchase_pagerank": "operators.graph_s",
    "exact_dedup": "llm.dedup_text_s",
}

QUERY_TIMEOUT_S = 60.0
CHECK_GROUP = "perfbench:check"  # untimed collects for the oracle check


def warm(spark, tiny_dir: str) -> None:
    """Run WARM_QUERY over the tiny data set: a fresh session's first
    query pays seconds of start-up shared by every later query (SQL and
    streaming engine classes, code generation), which would otherwise
    land on whichever query the seed puts first. A first-use cost only
    one query has lands on that query in every order."""
    from streambench_spark.plans.queries import REGISTRY

    REGISTRY[WARM_QUERY].fn(spark, tiny_dir).write.format("noop").mode("overwrite").save()


def _timeout_guard(spark, group: str) -> threading.Timer:
    def cancel():
        spark.sparkContext.cancelJobGroup(group)
        for q in spark.streams.active:
            q.stop()

    timer = threading.Timer(QUERY_TIMEOUT_S, cancel)
    timer.daemon = True
    timer.start()
    return timer


def run_query(spark, name: str, data_dir: str, tracer, counters) -> dict:
    """Build, execute and collect one registry query."""
    from streambench_spark.plans.queries import REGISTRY

    rec = {"name": name, "ok": False}
    group = f"perfbench:{name}"
    spark.sparkContext.setJobGroup(group, group)
    timer = _timeout_guard(spark, group)
    mark = counters.last_job_id() if counters else None
    try:
        t0 = time.perf_counter()
        with tracer.span("plans.build", query=name):
            df = REGISTRY[name].fn(spark, data_dir)
        t1 = time.perf_counter()
        built = counters.last_job_id() if counters else None
        t2 = time.perf_counter()
        with tracer.span("operators.exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        rec.update(build_s=t1 - t0, exec_s=time.perf_counter() - t2)
        if counters:
            rec["build_jobs"] = built - mark  # job ids are sequential
            rec["jobs"] = counters.jobs_since(mark)
            rec["resident"] = counters.resident()
        spark.sparkContext.setJobGroup(CHECK_GROUP, CHECK_GROUP)
        rec["columns"] = df.columns
        rec["rows"] = [tuple(r) for r in df.collect()]
        rec["live_heap_mb"] = live_heap_mb(spark)
        rec["ok"] = True
    except Exception as exc:  # a failed query is recorded, never dropped
        rec["error"] = repr(exc)[:300]
        print(f"perfbench: {name} failed: {rec['error']}", file=sys.stderr)
    finally:
        timer.cancel()
        spark.sparkContext.setJobGroup("perfbench:idle", "perfbench:idle")
    return rec


def run_round(spark, names: list[str], data_dir: str, seed: int, tracer,
              counters) -> list[dict]:
    """Run the list once, in the seed's order."""
    order = list(names)
    random.Random(seed).shuffle(order)
    with tracer.span("workload.round"):
        return [run_query(spark, n, data_dir, tracer, counters) for n in order]


def p50_p95(samples_ms: list[float]) -> tuple:
    """(median, p95) of latency samples; p95 is the harness's nearest
    rank (``bench.harness.latency_report``)."""
    from streambench_spark.bench.harness import latency_report

    if not samples_ms:
        return None, None
    return statistics.median(samples_ms), latency_report(samples_ms)["p95"]


def check(recs: list[dict], oracles) -> None:
    """Mark each record ``correct`` against its oracle (untimed)."""
    from streambench_spark.plans.queries import REGISTRY

    for rec in recs:
        sql = REGISTRY[rec["name"]].oracle
        rec["correct"] = rec["ok"] and (
            bool(rec["rows"]) if sql is None
            else oracles.matches(rec["columns"], rec["rows"], sql)
        )
        rec.pop("rows", None)


def end_to_end(recs: list[dict], job_ms: list[float], data_rows: int) -> dict:
    wall = (sum(r["build_s"] + r["exec_s"] for r in recs)
            if all(r["correct"] for r in recs) else None)
    p50, p95 = p50_p95(job_ms)
    return {
        "wall_s": wall,
        "latency_p50_ms": p50,
        "latency_p95_ms": p95,
        "max_rows_per_s": data_rows / wall if wall else None,
    }


def per_layer(recs: list[dict], progress: list) -> dict:
    """Layer metrics of the traced pass, summed over its queries."""
    done = [r for r in recs if "jobs" in r]
    out = {
        "plans.build_s": sum(r["build_s"] for r in done),
        "plans.build_jobs": sum(r["build_jobs"] for r in done),
        "operators.exec_s": sum(r["exec_s"] for r in done),
        "operators.relational_s": 0.0,
        "operators.graph_s": 0.0,
        "llm.dedup_text_s": 0.0,
        "streaming.drains_s": 0.0,
        "blockstore.resident_bytes": max((r["resident"][0] for r in done), default=0),
        "blockstore.resident_rdds": max((r["resident"][1] for r in done), default=0),
    }
    for r in done:
        family = FAMILY.get(r["name"], "operators.relational_s")
        out[family] += r["build_s"] + r["exec_s"]
        for k, v in r["jobs"].items():
            out[f"operators.{k}"] = out.get(f"operators.{k}", 0) + v
    out.update(streaming_totals(progress))
    return out


def run(spark, names, data_dir, seed, tracer, traced: bool):
    """One measured pass: returns the queries' records (not yet checked),
    the latency of every job the timed calls ran and, when traced, the
    streaming progress of the pass."""
    counters = SparkCounters(spark)
    mark = counters.last_job_id()
    recorder = ProgressRecorder()
    if traced:
        spark.streams.addListener(recorder)
    try:
        recs = run_round(spark, names, data_dir, seed, tracer,
                         counters if traced else None)
        time.sleep(0.5)  # let the listener bus deliver the last progress
    finally:
        if traced:
            spark.streams.removeListener(recorder)
    return recs, counters.job_latencies_ms(mark, CHECK_GROUP), recorder.all()
