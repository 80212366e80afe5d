"""Benchmark entry point (driver contract): the registry total.

Runs the registry's queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
COMPACT JSON line LAST::

    {"metric": "registry_total_runtime", "value": N, "unit": "sec",
     "cpus": N, "queries": {...}, "sf": ...}

The driver records only a ~2000-char tail of stdout, so the final line is
kept under ~1800 bytes: it carries the total, the host shape and gauges,
a fixed set of headline queries plus the slowest five, and a pointer to
``BENCH_FULL.json`` (written next to this file) holding every per-query
timing. Round 2 printed all timings on the line and the driver's tail cut
it mid-object (BENCH_r02 ``parsed: null``) — the split is the fix. If any
query fails, ``value`` is null and the failures are listed by exception
class (``errors_by_class``) on the line and in the file. ``cpus`` is the
``local[N]`` count: totals taken at different counts do not compare.

Each query is forced end-to-end with a ``noop``-format write — full
execution on the executors, zero driver-side collect, which is the shape a
100 TB run has (results land in a sink, not the driver).

The streaming YSB tuple (throughput, latency p50/p95) is measured by
``python3 perfbench/run.py --workload ysb_live``; the reference-parity
trial loop (M4), param registry (M5) and throughput/latency tuple (M1-M3,
ysb/benchmark/yahoo/Benchmark.scala:59-126) live in
``streambench_spark/bench/``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Fixed headline subset for the compact line (flagship + one per family).
HEADLINE = [
    "ysb",
    "ysb_streaming_append",
    "exact_dedup",
    "minhash_lsh_neardup",
    "embedding_lsh_topk",
    "decontaminate",
    "corpus_clean_pipeline",
    "dataset_shuffle",
    "tpch_q1_pricing_summary",
    "tpch_q18_large_volume",
]


def _run_registry(
    spark, sf_dir: str
) -> tuple[dict[str, float | None], dict[str, dict[str, str]]]:
    """Time every registry query. A failed query times as None and its
    error ({"class", "message"}) is returned keyed by query name."""
    from streambench_spark.plans.queries import REGISTRY

    timings: dict[str, float | None] = {}
    errors: dict[str, dict[str, str]] = {}
    for name, qdef in REGISTRY.items():
        t0 = time.perf_counter()
        try:
            df = qdef.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # keep the one-line contract even on error
            timings[name] = None
            errors[name] = {"class": type(exc).__name__, "message": str(exc)[:300]}
            print(f"bench error in {name}: {exc!r}", file=sys.stderr)
    return timings, errors


def _registry_total(timings: dict[str, float | None]) -> float | None:
    """The headline total, or None when any query failed: a query that
    starts failing must not make the total look faster."""
    if any(t is None for t in timings.values()):
        return None
    return round(sum(timings.values()), 3)


def _errors_by_class(errors: dict[str, dict[str, str]]) -> dict[str, list[str]]:
    by_class: dict[str, list[str]] = {}
    for name, err in sorted(errors.items()):
        by_class.setdefault(err["class"], []).append(name)
    return by_class


def _cpu_gauge() -> float:
    """Host-contention gauge: seconds for a FIXED pure-Python workload
    (5M LCG steps, single thread, no allocation). The workload never
    changes, so round-over-round variation in this number is the host —
    not the engine. Recorded at bench start and end; a registry-runtime
    drift with a matching gauge drift is environmental by construction
    (the r06 total moved +13.8% on untouched code — this makes the next
    such delta attributable inside the artifact itself)."""
    t0 = time.perf_counter()
    x = 1
    for _ in range(5_000_000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return round(time.perf_counter() - t0, 3)


def _mem_gauge_gbps() -> float | None:
    """Memory-BANDWIDTH gauge (GB/s): five copies of a 256 MB numpy
    array (far past any LLC — this is DRAM traffic). The r11 close
    found the failure mode the LCG gauge is blind to: a co-tenant
    eating memory bandwidth makes every shuffle/scan/codegen-heavy
    query ~1.1-1.2× slower (registry 206→235 s, throughput plateau
    20.5→16.8M rows/s, recursive_date_spine 4.7→7.4 s ON THE r10 CODE)
    while the register-bound LCG loop reads FASTER (0.53→0.49 s) and
    steal sits at 0.2% — without a bandwidth number in the artifact,
    that pattern is indistinguishable from a code regression. Recorded
    at bench start and end beside cpu_gauge_s."""
    try:
        import numpy as np
    except Exception:
        return None
    a = np.zeros(32_000_000)  # 256 MB of float64
    dst = np.empty_like(a)
    # Touch EVERY page of both buffers before timing (float64 stride 512
    # = one write per 4 KB page). The r11 gauge strided a[::4096] (one
    # fault per 8 pages), so without THP most of the source stayed
    # shared-zero-page-backed (cache-hot reads) and each a.copy() paid
    # fresh-mmap fault overhead on a new 256 MB destination — mixing
    # fault cost into the number. Pre-faulting both sides and timing
    # np.copyto into the SAME preallocated destination measures
    # steady-state DRAM copy bandwidth (ADVICE r11).
    a[::512] = 1.0
    dst[::512] = 1.0
    t0 = time.perf_counter()
    for _ in range(5):
        np.copyto(dst, a)
    dt = time.perf_counter() - t0
    # 5 copies × (read 256 MB + write 256 MB)
    return round(5 * 2 * a.nbytes / dt / 1e9, 2)


# A start-of-run gauge below this is the r11 starvation class (healthy
# hosts measure 10-20 GB/s on this copy; the starved r11 close window
# read 1.41-1.43). Artifacts stamped under it self-declare as degraded
# so perf conclusions defer to the next healthy window (VERDICT r11 §5).
MEM_GAUGE_DEGRADED_GBPS = 5.0


def _degraded_environment(
    start: float | None, end: float | None,
    threshold: float = MEM_GAUGE_DEGRADED_GBPS,
) -> bool:
    """True when either bandwidth gauge reading shows starvation.

    Either end of the run counts: a co-tenant arriving mid-run starves
    the tail queries just as thoroughly as one present at start. A None
    gauge (no numpy) is treated as healthy — absence of evidence, and
    the artifact already shows the null beside the flag."""
    return any(
        g is not None and g < threshold for g in (start, end)
    )


# A run-long hypervisor steal above this is the r12 noise class: the
# r12 close carried 2.91% steal (every healthy recorded run reads
# <=0.4%) and it — not code — produced that round's only >=1.5x
# single-shot deltas (ysb_10s, events_orc/csv_source, all x1.08-1.12 in
# the same-round healthy artifact). Kept as a SEPARATE flag from the
# bandwidth-keyed degraded_environment so the two classes stay
# forensically distinct (VERDICT r12 item 3).
STEAL_NOISY_PCT = 1.5


def _noisy_cpu(
    steal_pct: float | None, threshold: float = STEAL_NOISY_PCT,
) -> bool:
    """True when hypervisor steal over the whole run exceeds the noisy
    threshold. A None (no /proc/stat) is treated as healthy — absence
    of evidence, and the artifact shows the null beside the flag."""
    return steal_pct is not None and steal_pct > threshold


def _proc_stat() -> dict | None:
    """Aggregate CPU jiffies from /proc/stat — the contention a
    single-threaded gauge can't see: hypervisor STEAL hits all 32
    threads of a saturated trial while barely moving a 1-thread loop."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        keys = ("user", "nice", "system", "idle",
                "iowait", "irq", "softirq", "steal")
        return dict(zip(keys, map(int, parts[1:9])))
    except Exception:
        return None


def _host_cpu_pct(a: dict | None, b: dict | None) -> dict:
    """steal/iowait/busy as % of total jiffies elapsed between two
    _proc_stat snapshots (the whole bench run)."""
    if not a or not b:
        return {}
    d = {k: b[k] - a[k] for k in a}
    tot = sum(d.values()) or 1
    return {
        "steal_pct": round(100 * d["steal"] / tot, 2),
        "iowait_pct": round(100 * d["iowait"] / tot, 2),
        "busy_pct": round(
            100 * (d["user"] + d["nice"] + d["system"]) / tot, 2
        ),
    }


def _quarantine_stderr() -> None:
    """Route fd 2 to BENCH_STDERR.log BEFORE the JVM launches.

    The driver records a ~2000-char tail of the bench output and a stray
    JVM log line can land inside it (r02 was nulled by one; r03/r04
    tails still carried ERROR lines despite stopping queries first —
    log4j writes to the JVM's inherited fd 2, which Python-side
    setLogLevel can't fully silence during teardown). Re-pointing fd 2
    at a file is airtight: the JVM inherits the redirected descriptor,
    so every later log write lands in the file, and the diagnostics stay
    readable there instead of polluting the tail."""
    log_path = os.path.join(REPO, "BENCH_STDERR.log")
    fh = open(log_path, "w", buffering=1)
    os.dup2(fh.fileno(), 2)
    sys.stderr = fh


def main() -> None:
    _quarantine_stderr()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or "32")
    gauge_start = _cpu_gauge()
    mem_gauge_start = _mem_gauge_gbps()
    stat_start = _proc_stat()

    from streambench_spark.session import get_spark

    spark = get_spark(app_name="streambench-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers + Python/Arrow workers once so
    # per-query timings measure the query, not session start or the
    # one-time worker spawn (the reference similarly ramps up 10 s,
    # StreamBenchMain.scala:33).
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()

    def _noop_batch(batches):
        yield from batches

    spark.range(0, 64, 1, cpus).mapInPandas(
        _noop_batch, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # The COGROUPED_MAP runner spawns its own worker pool on first use
    # (measured: first cogroup 9.7 s, third 3.4 s at sf0.1) — warm it too
    def _noop_cogroup(left, right):
        return left

    from pyspark.sql import functions as F

    _w = spark.range(0, 64, 1, cpus).withColumn("k", F.col("id") % 8)
    _w.groupBy("k").cogroup(_w.groupBy("k")).applyInPandas(
        _noop_cogroup, schema="id long, k long"
    ).write.format("noop").mode("overwrite").save()

    # Warm the Structured Streaming engine too, same intent as the batch
    # warmups above: the FIRST availableNow drain in a session pays
    # one-time engine init — StreamExecution/state-store class loading,
    # sink committer setup, and per-operator-class codegen — measured at
    # r15 as ~9 s on the first stream-stream join drain (12.2 s cold vs
    # 3.0 s warm for the identical query) and ~2-3 s on the first
    # stateful drain. Without this, that init lands on whichever
    # STREAMING REGISTRY QUERY happens to run first and flips between
    # twins run-to-run (the r15 close had to exonerate
    # interval_join_left_outer_streaming 5.78 ↔ 2.85 swaps as exactly
    # this). Four 4-row drains, one per streaming operator class the
    # registry uses (stateless file sink, state-store aggregate,
    # applyInPandasWithState, watermarked stream-stream join), run
    # concurrently on 2 shuffle partitions so the warmup itself stays a
    # few seconds. Timed per-query semantics are unchanged — this is
    # measurement hygiene (guide §1), not caching: every registry drain
    # still computes from its own parquet input.
    import shutil
    import tempfile
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    tmp_dirs: list[str] = []

    def _tmp(prefix: str) -> str:
        d = tempfile.mkdtemp(prefix=prefix)
        tmp_dirs.append(d)
        return d

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    queries: list = []
    try:
        src_dir = _tmp("sb_warm_src_")
        spark.range(0, 4, 1, 1).withColumn(
            "ts", F.expr("timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id)")
        ).write.mode("overwrite").parquet(src_dir)

        def src():
            return spark.readStream.schema("id long, ts timestamp").parquet(src_dir)

        def w_stateless():
            return (
                src().writeStream.format("parquet")
                .option("path", _tmp("sb_warm_out_"))
                .option("checkpointLocation", _tmp("sb_warm_ck_"))
                .trigger(availableNow=True).start()
            )

        def w_agg():
            return (
                src().groupBy("id").count()
                .writeStream.format("memory")
                .queryName(f"warm_{uuid.uuid4().hex[:8]}")
                .outputMode("update")
                .option("checkpointLocation", _tmp("sb_warm_ck_"))
                .trigger(availableNow=True).start()
            )

        def w_state():
            from streambench_spark.streaming.stateful import running_counts

            rc = running_counts(
                src().select(F.col("id").alias("user_id"),
                             F.lit("x").alias("event_type")),
                ["user_id", "event_type"],
                "user_id long, event_type string, n long",
            )
            return (
                rc.writeStream.format("memory")
                .queryName(f"warm_{uuid.uuid4().hex[:8]}")
                .outputMode("update")
                .option("checkpointLocation", _tmp("sb_warm_ck_"))
                .trigger(availableNow=True).start()
            )

        def w_join():
            left = src().withWatermark("ts", "1 second")
            right = src().withWatermark("ts", "1 second")
            j = left.alias("l").join(
                right.alias("r"),
                F.expr("l.id = r.id AND r.ts >= l.ts "
                       "AND r.ts <= l.ts + interval 1 hour"),
            )
            return (
                j.select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
                .writeStream.format("parquet")
                .option("path", _tmp("sb_warm_out_"))
                .option("checkpointLocation", _tmp("sb_warm_ck_"))
                .trigger(availableNow=True).start()
            )

        # 2 shuffle partitions: state-store setup/commit is per
        # (partition x store x batch); at the session's 32 the tiny join
        # drain alone measured 20 s, at 2 it is ~4 s. Restored before any
        # timed query runs.
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        # Track every query the instant it starts so the finally block
        # can stop stragglers even when a later start() or an
        # awaitTermination raises — otherwise leaked queries keep
        # running while their source/checkpoint dirs are rmtree'd.
        def _start(w):
            q = w()
            queries.append(q)
            return q

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(_start, (w_stateless, w_agg, w_state, w_join)))
        # One shared deadline across all four drains (not 120 s each):
        # a hung warmup may cost at most ~60 s before the timed loop.
        deadline = time.monotonic() + 60.0
        for q in queries:
            if not q.awaitTermination(max(1.0, deadline - time.monotonic())):
                q.stop()
    except Exception as exc:  # warmup must never kill the bench
        print(f"streaming warmup skipped: {exc!r}", file=sys.stderr)
    finally:
        for q in queries:
            try:
                if q.isActive:
                    q.stop()
            except Exception:
                pass
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        for d in tmp_dirs:
            shutil.rmtree(d, ignore_errors=True)

    timings, errors = _run_registry(spark, sf_dir)
    total = _registry_total(timings)
    errors_by_class = _errors_by_class(errors)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # Diagnostics volume in the quarantined stderr log: routine JVM WARN
    # chatter makes a bare non-empty flag useless, so record the byte
    # count — a reader sees at a glance whether the log holds the usual
    # ~kB of teardown noise or a multi-kB stack trace worth opening.
    try:
        sys.stderr.flush()
        stderr_bytes = os.path.getsize(os.path.join(REPO, "BENCH_STDERR.log"))
    except OSError:
        stderr_bytes = 0

    gauge_end = _cpu_gauge()
    mem_gauge_end = _mem_gauge_gbps()
    host_cpu = _host_cpu_pct(stat_start, _proc_stat())
    degraded = _degraded_environment(mem_gauge_start, mem_gauge_end)
    noisy = _noisy_cpu(host_cpu.get("steal_pct"))

    # Full record → file (the driver tail would truncate it inline).
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as fh:
        json.dump(
            {
                "metric": "registry_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "cpus": cpus,
                "queries": timings,
                "errors": errors,
                "errors_by_class": errors_by_class,
                "stderr_bytes": stderr_bytes,
                "cpu_gauge_s": {"start": gauge_start, "end": gauge_end},
                "mem_gauge_gbps": {"start": mem_gauge_start, "end": mem_gauge_end},
                "degraded_environment": degraded,
                "noisy_cpu": noisy,
                "host_cpu_pct": host_cpu,
            },
            fh,
            indent=1,
            sort_keys=True,
        )

    slowest = dict(
        sorted(
            ((n, t) for n, t in timings.items() if t is not None),
            key=lambda kv: -kv[1],
        )[:5]
    )
    compact_queries = {n: timings[n] for n in HEADLINE if n in timings}
    compact_queries.update(slowest)
    line = {
        "metric": "registry_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "cpus": cpus,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors_by_class": {c: names[:3] for c, names in errors_by_class.items()},
        "stderr_bytes": stderr_bytes,
        "cpu_gauge_s": [gauge_start, gauge_end],
        "mem_gauge_gbps": [mem_gauge_start, mem_gauge_end],
        "degraded_environment": degraded,
        "noisy_cpu": noisy,
        "steal_pct": host_cpu.get("steal_pct"),
        "queries": compact_queries,
        "full": "BENCH_FULL.json",
    }
    out = json.dumps(line)
    if len(out) > 1800:  # stay inside the driver's 2000-char stdout tail
        line.pop("queries", None)
        out = json.dumps(line)
    # Tail hygiene: the driver records only a ~2000-char stdout TAIL, so the
    # JSON line must be the last thing any thread writes. BENCH_r02 was
    # nulled by a truncated tail and r03's tail carried a JVM stack trace
    # printed by a late streaming-teardown thread right before the line —
    # so: stop every active streaming query, silence the JVM logger, tear
    # the whole session down, and only then print. With the JVM gone,
    # nothing can interleave with or follow the line.
    try:
        for q in spark.streams.active:
            try:
                q.stop()
            except Exception:
                pass
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
    except Exception:
        pass
    sys.stderr.flush()
    sys.stdout.flush()
    time.sleep(1)  # let any last JVM/log writer threads drain first
    print(out, flush=True)


if __name__ == "__main__":
    main()
