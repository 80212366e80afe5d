"""Benchmark entry point (driver contract).

Runs the registry's queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
COMPACT JSON line LAST::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver records only a ~2000-char tail of stdout, so the final line is
kept under ~1800 bytes: it carries the totals, the streaming metric tuple,
a fixed set of headline queries plus the slowest five, and a pointer to
``BENCH_FULL.json`` (written next to this file) holding every per-query
timing. Round 2 printed all timings on the line and the driver's tail cut
it mid-object (BENCH_r02 ``parsed: null``) — the split is the fix. If any
query fails, ``value`` is null and the failures are listed by exception
class (``errors_by_class``) on the line and in the file.

Each query is forced end-to-end with a ``noop``-format write — full
execution on the executors, zero driver-side collect, which is the shape a
100 TB run has (results land in a sink, not the driver).

``SPARK_GRAFT_BENCH_REPLICATE=k`` additionally replays the streaming YSB
trial over a k×-replicated events table (ids offset per copy), reporting
rows/s above the shipped sf so the throughput claim is tested beyond
sf0.1. The richer harness (trial loop M4, param registry M5, throughput/
latency tuple M1-M3 per ysb/benchmark/yahoo/Benchmark.scala:59-126) lives
in ``streambench_spark/bench/``.
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


def _streaming_trials(spark, sf_dir: str, cpus: int) -> dict:
    """Reference metric tuple (M1 throughput + M3 latency min/avg/p95/p99/
    max — BASELINE.md obligations) from bounded streaming YSB trials."""
    from streambench_spark.bench import BenchParams
    from streambench_spark.bench.harness import (
        run_latency_trial,
        run_throughput_trial,
    )
    from streambench_spark.catalog import load_table
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import ysb_streaming

    streaming: dict = {}

    def bounded():
        return ysb_streaming(
            stream_table(spark, sf_dir, "events"),
            load_table(spark, sf_dir, "customer"),
            window="1 hour",
            watermark=None,
        )

    # Headline throughput: the reference's methodology (rate-source
    # target, listener-counted lower bound, StreamBenchMain.scala:32 +
    # SparkYahooRunner.scala:91-113) over the full filter→project→
    # broadcast-join→windowed-agg pipeline. The request rate must exceed
    # pipeline capacity or the trial measures the GENERATOR, not the
    # engine (measured on local[32]: 6M/s requested → 5.1M processed,
    # request-capped; 20/28/36M/s requested → 16.4/16.8/16.8M processed,
    # saturated). 28M/s sits safely past the knee; reported is processed
    # rows/s — vs the reference targets of 2M/s (Spark path) and 2.7M/s
    # (StreamBox release config). Like the reference's trial loop
    # (Benchmark.scala:59-126, M4), the headline is the MEDIAN of 3
    # measured trials after 1 warmup, and each trial runs 30 s: 15 s
    # trials measured BIMODAL (9.3-18.6M on one r07 day — the ~2-4 s
    # query startup and batch-boundary quantization land inside the
    # window and swing the listener count), while 30 s trials are
    # stable (20.5/20.5/20.5/22.4M back-to-back, startup amortized).
    # All four raw points are published in BENCH_FULL.
    live_tput = BenchParams(duration_s=30, rows_per_second=28_000_000,
                            ramp_up_seconds=0, watermark="1 second",
                            num_partitions=cpus)
    runs = [run_throughput_trial(spark, live_tput, source=None)
            for _ in range(4)]
    measured = sorted(runs[1:], key=lambda r: r["throughput_rows_per_s"])
    streaming.update(measured[1])  # the median measured trial's tuple
    streaming["throughput_trials_rows_per_s"] = [
        r["throughput_rows_per_s"] for r in runs
    ]
    streaming["throughput_warmup_trials"] = 1
    # Secondary: bounded file-replay drain of the frozen sf events table
    # (deterministic row count; proves the S7 path end-to-end).
    replay = run_throughput_trial(spark, BenchParams(duration_s=60),
                                  source=bounded())
    streaming.update({f"replay_{k}": v for k, v in replay.items()})
    # Latency needs LIVE event times: the rate-source generator, arrival
    # minus generation clock per micro-batch (M3). Honest sample math:
    # nearest-rank over n batch samples means p95 == max whenever
    # n <= 20 and p99 == max whenever n <= 100 — so the trial runs until
    # AT LEAST 120 VALID samples are collected (empty micro-batches
    # contribute no sample and must not count; floor 60 s, hard cap
    # 300 s): p95 and p99 both separate from max in the RECORDED
    # artifact, which is the number the docs must cite (the r06 close
    # recorded 39 batches and its whole tail was the max sample).
    # gc_probe stamps per-batch driver-JVM GC time: the top-3 latency
    # batches are published with their GC deltas, so a tail spike is
    # attributed to (or exonerated from) GC in the artifact itself.
    live = BenchParams(duration_s=60, rows_per_second=200_000,
                       ramp_up_seconds=0, watermark="1 second")
    streaming.update(
        run_latency_trial(spark, live, source=None, min_batches=120,
                          max_duration_s=300, gc_probe=True)
    )
    return streaming


# Events-driven headliners for the replicate-scale batch probe: one per
# family whose input is the replicated fact (join, agg, windows, session,
# sketch, interval join, percentiles, transition matrix, time series).
SCALED_BATCH = [
    "ysb",
    "ysb_10s",
    "session_windows",
    "sliding_window_counts",
    "windowed_distinct_users",
    "cms_heavy_hitters",
    "global_percentiles",
    "interval_self_join_banded",
    "event_transition_matrix",
    "ohlc_hourly_bars",
]


def _replicated_trial(spark, sf_dir: str, copies: int,
                      base_timings: dict[str, float]) -> dict:
    """Scale-up evidence beyond the shipped sf: replicate the events fact
    ``copies``× (event ids offset per copy so dedup-free operators see
    distinct rows), symlink every other table, then (a) drain the YSB
    streaming pipeline over it and (b) re-run the events-driven headline
    batch queries against the replicated dir. ``ratio_per_copy`` =
    time_at_k× / (k · time_at_1×): ~1.0 is linear scaling, < 1 means
    fixed overhead amortizes away — the claim a 100 TB run rests on is
    that this ratio does NOT grow with the data."""
    import tempfile

    from pyspark.sql import functions as F

    # symlink targets must be absolute: a relative SPARK_GRAFT_SF_DIR
    # would otherwise resolve relative to the tmp dir and dangle
    sf_dir = os.path.abspath(sf_dir)

    from streambench_spark.bench import BenchParams
    from streambench_spark.bench.harness import run_throughput_trial
    from streambench_spark.catalog import load_table
    from streambench_spark.plans.queries import REGISTRY
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import ysb_streaming

    ev = load_table(spark, sf_dir, "events")
    # one crossJoin with range(copies) — a k-leg union would build a
    # k-node plan; this stays a single Generate regardless of k
    copies_df = (
        ev.crossJoin(F.broadcast(spark.range(copies).select(F.col("id").alias("_k"))))
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000_000) * F.col("_k"))
        .drop("_k")
    )
    import shutil

    # try/finally + rmtree: every prior bench run leaked its replicated
    # dir (r12 found 8 of them, 2.3 GB, in /tmp — the 1000x one alone is
    # 2 GB). Same leak class ADVICE r11 flagged in the basket probe.
    tmp = tempfile.mkdtemp(prefix="sb_benchrep_")
    try:
        path = os.path.join(tmp, "events.parquet")
        copies_df.repartition(32).write.mode("overwrite").parquet(path)
        for name in os.listdir(sf_dir):
            if name != "events.parquet":
                os.symlink(os.path.join(sf_dir, name), os.path.join(tmp, name))
        out = ysb_streaming(
            stream_table(spark, tmp, "events"),
            load_table(spark, sf_dir, "customer"),
            window="1 hour",
            watermark=None,
        )
        res = run_throughput_trial(spark, BenchParams(duration_s=120), source=out)
        # Release the drain's state/cache and nudge a full GC before the
        # batch queries — at 1000x the post-drain heap is fragmented
        # enough that 4 of the 10 queries died on GCLocker retries while
        # passing standalone against the same table (r12; same hygiene
        # the skew-twin probe applies between trials).
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        batch: dict[str, dict] = {}
        for name in SCALED_BATCH:
            t0 = time.perf_counter()
            try:
                REGISTRY[name].fn(spark, tmp).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:
                # record the failure IN the artifact — the r12 1000x run
                # silently dropped 4 queries whose errors lived only in a
                # discarded stderr stream (the r05 trial_errors lesson,
                # re-learned one level down)
                print(f"bench error in scaled {name}: {exc!r}", file=sys.stderr)
                batch[name] = {"error": repr(exc)[:200]}
                continue
            t = round(time.perf_counter() - t0, 3)
            base = base_timings.get(name)
            entry = {"scaled_s": t, "base_s": base}
            if base and base > 0:
                entry["ratio_per_copy"] = round(t / (copies * base), 3)
            batch[name] = entry
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ratios = sorted(
        v["ratio_per_copy"] for v in batch.values() if "ratio_per_copy" in v
    )
    median_ratio = ratios[len(ratios) // 2] if ratios else None
    return {
        "copies": copies,
        **res,
        "batch": batch,
        "batch_median_ratio_per_copy": median_ratio,
    }


def _skew_probe(spark, sf_dir: str) -> dict:
    """Adversarial-skew probe (SCALE.md's skew claims, measured): remap
    user_id so ONE user owns ~10% of all events, then time the plain vs
    skew-safe twins on the identical frame — groupBy vs salted_grouped_agg
    (operators/aggregates.py:24) and interval_join vs interval_join_banded
    (operators/relational.py:54,116). AQE's skew-join splitting is ON (the
    session default), so "plain" is Spark's best unaided effort; the probe
    records what explicit salting/banding buys ON TOP at this scale. The
    equality of results is pytest-enforced (tests/test_invariance.py);
    here only wall-clock is recorded, into BENCH_FULL's skew_probe block."""
    from pyspark.sql import functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.operators.aggregates import salted_grouped_agg
    from streambench_spark.operators.relational import (
        interval_join,
        interval_join_banded,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn(
            "user_id",
            F.when(F.col("event_id") % 10 == 0, F.lit(0)).otherwise(
                F.col("user_id") + 1
            ),
        )
        .select(
            "event_id", "user_id", "ts", "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        # freeze the skewed frame so each timed run measures the operator,
        # not the remap scan
        .localCheckpoint()
    )

    def timed(build):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    out = {
        "hot_key_share": 0.1,
        "plain_agg_s": timed(
            lambda: ev.groupBy("user_id").agg(
                F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
            )
        ),
        "salted_agg_s": timed(
            lambda: salted_grouped_agg(
                ev,
                keys=["user_id"],
                partial_aggs=[
                    F.sum("cents").alias("ps"),
                    F.count(F.lit(1)).alias("pn"),
                ],
                final_aggs=[
                    F.sum("ps").alias("s"),
                    F.sum("pn").alias("n"),
                ],
            )
        ),
        "plain_interval_join_s": timed(
            lambda: interval_join(
                purchases, views, key="user_id",
                left_ts="pts", right_ts="ts", upper="5 minutes",
            )
        ),
        "banded_interval_join_s": timed(
            lambda: interval_join_banded(
                purchases, views, key="user_id",
                left_ts="pts", right_ts="ts", upper="5 minutes",
            )
        ),
    }
    ev.unpersist()
    return out


def _current_round() -> int | None:
    """The build round currently underway, anchored on VERDICT.md's
    header: the judge writes "VERDICT — round N" at the END of round N,
    so while it reads N the running round is N+1."""
    import re

    try:
        with open(os.path.join(REPO, "VERDICT.md")) as fh:
            m = re.search(r"round (\d+)", fh.readline())
        return int(m.group(1)) + 1 if m else None
    except Exception:
        return None


def _carry_scaled_forward(full_path: str) -> dict:
    """Replicate-knob off (the driver's per-round run doesn't set it):
    carry the last measured replicate probe forward instead of erasing
    it — the r04 round-close wiped the committed 8x evidence to {} this
    way. The carried block is marked AND stamped with provenance
    (``carry_count`` increments per carry; ``measured_round`` is the
    round whose run actually produced the numbers) so the published
    record can't republish arbitrarily stale scale evidence unnoticed —
    the repo-state guard (tests/test_bench.py) fails a committed block
    carried more than 3 runs."""
    try:
        with open(full_path) as fh:
            prev = json.load(fh).get("scaled") or {}
    except Exception:
        return {}
    if not prev:
        return {}
    carried = dict(prev)
    carried["carried_forward"] = True
    carried["carry_count"] = int(prev.get("carry_count") or 0) + 1
    return carried


def _summary_point(block: dict) -> dict:
    """The compact (copies, ratio, throughput, round) tuple a scaled
    block contributes to the history ledger."""
    return {
        k: block.get(k)
        for k in (
            "copies",
            "batch_median_ratio_per_copy",
            "throughput_rows_per_s",
            "measured_round",
        )
        if block.get(k) is not None
    }


def _merge_scaled_history(full_path: str, scaled: dict) -> dict:
    """Keep every MEASURED replicate point across rewrites: the default
    run measures 16x, but a one-off high-k run (e.g. 64x) would be
    erased by the next default rewrite of BENCH_FULL.json — so each
    measured block's summary is folded into a ``history`` list keyed by
    (copies, measured_round), LAST point wins per key: a same-round
    re-measurement supersedes the earlier one (the r06 ledger silently
    dropped a fresher 16x point because the dedup was first-wins — the
    r06 advice find)."""
    history: list[dict] = []
    try:
        with open(full_path) as fh:
            prev = json.load(fh).get("scaled") or {}
        history = list(prev.get("history") or [])
        if prev.get("copies") and not prev.get("carried_forward"):
            history.append(_summary_point(prev))
    except Exception:
        pass
    if scaled.get("copies") and not scaled.get("carried_forward"):
        history.append(_summary_point(scaled))
    by_key: dict = {}
    for h in history:
        if h.get("copies"):
            # later entries overwrite: the list is ordered oldest-first
            # (prior ledger, then prior block, then this run's block)
            by_key[(h.get("copies"), h.get("measured_round"))] = h
    deduped = sorted(
        by_key.values(),
        key=lambda h: (h.get("measured_round") or 0, h.get("copies") or 0),
    )
    if deduped:
        out = dict(scaled)
        out["history"] = deduped[-8:]
        return out
    return scaled


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
    # SPARK_GRAFT_BENCH_REGISTRY_ONLY=1: time ONLY the registry queries
    # (skip streaming/skew/replicate trials) — the apples-to-apples mode
    # for chasing registry-total drift across runs without any probe
    # heating the JVM or disk in between.
    registry_only = os.environ.get("SPARK_GRAFT_BENCH_REGISTRY_ONLY") == "1"
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

    # Trial failures are recorded in the JSON artifact itself, not only
    # in the (gitignored) stderr log — the published record must
    # distinguish "knob off" from "trial crashed" (the r05 advice find).
    trial_errors: list[str] = []

    streaming: dict = {}
    if not registry_only:
        try:
            streaming = _streaming_trials(spark, sf_dir, cpus)
        except Exception as exc:
            trial_errors.append(f"streaming: {exc!r}"[:300])
            print(f"bench error in streaming trial: {exc!r}", file=sys.stderr)

    skew: dict = {}
    if not registry_only:
        try:
            skew = _skew_probe(spark, sf_dir)
        except Exception as exc:
            trial_errors.append(f"skew_probe: {exc!r}"[:300])
            print(f"bench error in skew probe: {exc!r}", file=sys.stderr)

    # Replicate-scale probe: MEASURED in every default run (16x unless
    # overridden; 0/1 disables) — a carried-forward block is the
    # fallback for a crashed/disabled probe, not the steady state (the
    # r05 scaled block was carried from r04's run; an endgame record
    # should be measured in-round).
    replicate = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE") or "16")
    if registry_only:
        replicate = 0
    scaled: dict = {}
    # registry-only runs record to a SEPARATE file: they are drift
    # diagnostics, not the published full record, and must not clobber
    # BENCH_FULL.json's trial/scaled blocks.
    full_path = os.path.join(
        REPO, "BENCH_REGISTRY_ONLY.json" if registry_only else "BENCH_FULL.json"
    )
    if replicate > 1:
        try:
            scaled = _replicated_trial(spark, sf_dir, replicate, timings)
            rnd = _current_round()
            if rnd is not None:
                scaled["measured_round"] = rnd
        except Exception as exc:
            trial_errors.append(f"replicated_trial: {exc!r}"[:300])
            print(f"bench error in replicated trial: {exc!r}", file=sys.stderr)
    if not registry_only:
        if not scaled:
            scaled = _carry_scaled_forward(full_path)
        scaled = _merge_scaled_history(full_path, scaled)

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

    # Full record → file (the driver tail would truncate it inline).
    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": "registry_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "queries": timings,
                "errors": errors,
                "errors_by_class": errors_by_class,
                "streaming_ysb": streaming,
                "skew_probe": skew,
                "scaled": scaled,
                "trial_errors": trial_errors,
                "stderr_bytes": stderr_bytes,
                "cpu_gauge_s": {"start": gauge_start, "end": gauge_end},
                "mem_gauge_gbps": {"start": mem_gauge_start, "end": mem_gauge_end},
                "degraded_environment": _degraded_environment(
                    mem_gauge_start, mem_gauge_end
                ),
                "noisy_cpu": _noisy_cpu(host_cpu.get("steal_pct")),
                "host_cpu_pct": host_cpu,
                "registry_only": registry_only,
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
    # diagnostics-only blocks live in BENCH_FULL; the line stays lean so
    # the per-query timings survive the 1800-byte budget
    line_streaming = {
        k: v
        for k, v in streaming.items()
        if k not in ("latency_top_batches", "throughput_trials_rows_per_s")
    }
    line = {
        "metric": "registry_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors_by_class": {c: names[:3] for c, names in errors_by_class.items()},
        "n_trial_errors": len(trial_errors),
        "trial_errors": [e[:120] for e in trial_errors[:2]],
        "stderr_bytes": stderr_bytes,
        "cpu_gauge_s": [gauge_start, gauge_end],
        "mem_gauge_gbps": [mem_gauge_start, mem_gauge_end],
        "degraded_environment": _degraded_environment(
            mem_gauge_start, mem_gauge_end
        ),
        "noisy_cpu": _noisy_cpu(host_cpu.get("steal_pct")),
        "steal_pct": host_cpu.get("steal_pct"),
        "queries": compact_queries,
        "streaming_ysb": line_streaming,
        "full": os.path.basename(full_path),
    }
    if scaled:
        # compact line carries the summary; per-query detail is in FULL
        line["scaled"] = {k: v for k, v in scaled.items() if k != "batch"}
        if "history" in line["scaled"]:
            line["scaled"]["history"] = line["scaled"]["history"][-3:]
    out = json.dumps(line)
    if len(out) > 1800:  # stay inside the driver's 2000-char stdout tail
        line.pop("queries", None)
        out = json.dumps(line)
    if len(out) > 1800:
        line["streaming_ysb"] = {
            k: v
            for k, v in line_streaming.items()
            if not k.startswith(("replay_", "throughput_warmup"))
        }
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
