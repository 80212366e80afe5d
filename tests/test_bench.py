"""Bench harness (M4/M5) + latency pipeline (M3) tests — bounded file
replay so trials are deterministic and fast."""

from __future__ import annotations

import pytest

from streambench_spark.bench import BenchParams, latency_report, run_benchmark
from streambench_spark.bench.harness import run_latency_trial, run_throughput_trial
from streambench_spark.catalog import load_table
from streambench_spark.sources.replay import stream_table
from streambench_spark.streaming.ysb import ysb_streaming
from tests.conftest import SF_DIR


def _bounded_source(spark):
    events = stream_table(spark, SF_DIR, "events")
    customer = load_table(spark, SF_DIR, "customer")
    return ysb_streaming(events, customer, window="1 hour", watermark=None)


def test_latency_report_percentiles():
    r = latency_report([float(x) for x in range(1, 101)])
    assert r["min"] == 1.0 and r["max"] == 100.0
    assert r["avg"] == 50.5
    assert r["p95"] == 95.0 and r["p99"] == 99.0
    assert latency_report([])["p99"] == 0.0


def test_throughput_trial_bounded(spark):
    params = BenchParams(duration_s=5)
    m = run_throughput_trial(spark, params, source=_bounded_source(spark))
    assert m["rows"] > 0
    assert m["throughput_rows_per_s"] > 0
    assert m["totalDurationMillis"] > 0


def test_latency_trial_bounded(spark):
    params = BenchParams(duration_s=5)
    m = run_latency_trial(spark, params, source=_bounded_source(spark))
    assert m["latency_batches"] >= 1
    assert m["latency_total_ms"] > 0
    assert m["latency_max_ms"] >= m["latency_p99_ms"] >= m["latency_min_ms"]


def test_latency_marking_sink_stamps_after_collect(spark, tmp_path):
    """The batch handed to foreachBatch is lazy: its records are produced
    by the sink's own collect. Each record's last_update_ms comes from a
    UDF that returns the wall clock when it runs, so a stamp taken before
    the collect would precede the records it measures."""
    import time

    from pyspark.sql import functions as F

    from streambench_spark.sinks.sinks import latency_marking_sink

    def now_ms(_):
        time.sleep(0.01)  # the records are produced strictly after entry
        return int(time.time() * 1000)

    clock = F.udf(now_ms, "long").asNondeterministic()
    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 50, (i + 1) * 50).coalesce(1).write.mode(
            "append").parquet(src)
    stream = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("last_update_ms", clock("id"))
    )
    collector: list = []
    q = latency_marking_sink(stream, collector, mode="append",
                             available_now=True)
    assert q.awaitTermination(120)
    recs = [r for r in collector if r[1]]
    assert len(recs) == 3
    for arrival_ms, _, max_last_update_ms in recs:
        assert arrival_ms >= max_last_update_ms


def test_benchmark_trial_loop(spark):
    params = BenchParams(trials=2, warmup_trials=1, duration_s=5)
    report = run_benchmark(spark, params, source_factory=lambda: _bounded_source(spark))
    assert len(report["trials"]) == 3
    assert sum(1 for t in report["trials"] if t["warmup"]) == 1
    assert report["median_throughput_rows_per_s"] > 0
    assert report["params"]["window"] == "10 seconds"
    # deterministic (replay) mode must NOT publish a latency tuple: the
    # frozen event times would make arrival−event_time clock skew, not
    # latency (round-4 review find)
    for t in report["trials"]:
        assert "totalDurationMillis" in t and "latency_total_ms" not in t


def test_benchmark_zero_trials_no_crash(spark):
    """trials=0 (warmup-only smoke run) must return cleanly, not
    IndexError after discarding the warmup results."""
    params = BenchParams(trials=0, warmup_trials=1, duration_s=5)
    report = run_benchmark(spark, params, source_factory=lambda: _bounded_source(spark))
    assert len(report["trials"]) == 1
    assert report["median_throughput_rows_per_s"] is None


def test_params_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_TRIALS", "7")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_WINDOW", "30 seconds")
    p = BenchParams.from_env()
    assert p.trials == 7
    assert p.window == "30 seconds"


def test_progress_stats_shape(spark):
    """M6 analog: per-batch per-operator stats from recentProgress."""
    from streambench_spark.streaming.listeners import progress_stats
    from streambench_spark.streaming.ysb import run_to_memory

    q, _ = run_to_memory(_bounded_source(spark), mode="complete")
    stats = progress_stats(q)
    assert len(stats) >= 1
    assert {"batch_id", "input_rows", "operator", "state_rows"} <= set(stats[0])
    assert any(s["input_rows"] > 0 for s in stats)


def test_latency_analysis_reference_composition(spark):
    """M3: grouped max -> diff -> percentile report, the reference's
    SparkYahooRunner.scala:119-145 chain, on a synthetic capture."""
    from pyspark.sql import functions as F

    from streambench_spark.bench.harness import latency_analysis

    captured = spark.createDataFrame(
        [
            # (window, key, arrival_ms, last_update_ms)
            (0, "a", 1100, 1000),
            (0, "a", 1150, 1050),  # same group: maxes 1150/1050 -> diff 100
            (0, "b", 1300, 1100),  # diff 200
            (1, "a", 2400, 2100),  # diff 300
        ],
        "w long, k string, arrival_ms long, last_update_ms long",
    )
    r = latency_analysis(captured, ["w", "k"], "arrival_ms", "last_update_ms").first()
    assert r["min_v"] == 100 and r["max_v"] == 300
    assert abs(r["avg_v"] - 200.0) < 1e-9


def test_gen_events_stream_flows(spark):
    """S1 rate-limited streaming generator: rows flow with the generated
    schema and dim-joined ad ids."""
    from streambench_spark.sources import generators as gen
    from streambench_spark.streaming.ysb import start_query

    c = gen.gen_campaigns(spark, 10, 2)
    stream = gen.gen_events_stream(spark, c, rows_per_second=2000,
                                   num_partitions=2, ramp_up_seconds=0)
    table = "gen_events_rows"
    start_query(stream, fmt="memory", mode="append", query_name=table)
    import time

    got = 0
    for _ in range(40):
        time.sleep(0.5)
        got = spark.table(table).count()
        if got >= 500:
            break
    for q in spark.streams.active:
        q.stop()
    assert got >= 500
    row = spark.table(table).first()
    assert row["ad_id"] is not None and row["event_type"] in ("view", "click", "purchase")


def test_cli_list_and_oracle(capsys):
    from streambench_spark.__main__ import main

    assert main(["list", "--tag", "flagship"]) == 0
    out = capsys.readouterr().out
    assert "ysb" in out
    assert main(["oracle", "ysb"]) == 0
    assert "c_mktsegment" in capsys.readouterr().out


def test_bench_headline_and_scaled_names_registered():
    """bench.py's headline list must stay valid registry names — a rename
    would silently drop a query from the compact line."""
    import bench
    from streambench_spark.plans.queries import REGISTRY

    assert all(n in REGISTRY for n in bench.HEADLINE)


def test_run_registry_failed_query_nulls_total(spark, monkeypatch):
    """A failing query must not make the headline total faster: its time
    is None, the total is None, and the error is listed by class."""
    import types

    import bench
    from streambench_spark.plans import queries as Q

    def boom(spark, sf_dir):
        raise ValueError("planted failure")

    monkeypatch.setattr(Q, "REGISTRY", {
        "ok": types.SimpleNamespace(fn=lambda spark, sf_dir: spark.range(3)),
        "bad": types.SimpleNamespace(fn=boom),
    })
    timings, errors = bench._run_registry(spark, SF_DIR)
    assert timings["ok"] >= 0
    assert timings["bad"] is None
    assert errors == {"bad": {"class": "ValueError", "message": "planted failure"}}
    assert bench._registry_total(timings) is None
    assert bench._registry_total({"ok": timings["ok"]}) == timings["ok"]
    assert bench._errors_by_class(errors) == {"ValueError": ["bad"]}


def test_degraded_environment_threshold():
    """The degraded_environment stamp (VERDICT r11 item 5): a start-of-run
    mem gauge below MEM_GAUGE_DEGRADED_GBPS marks the whole artifact as
    produced under bandwidth starvation, so a starved record self-declares
    instead of relying on the reader to interpret the raw GB/s number."""
    import bench

    assert bench.MEM_GAUGE_DEGRADED_GBPS == 5.0
    # healthy both ends
    assert bench._degraded_environment(15.0, 12.0) is False
    # the r11 starved window: 1.41-1.43 at both ends
    assert bench._degraded_environment(1.41, 1.43) is True
    # a co-tenant arriving mid-run starves the tail -> either end counts
    assert bench._degraded_environment(15.0, 1.4) is True
    assert bench._degraded_environment(1.4, 15.0) is True
    # no numpy -> no gauge -> no evidence of starvation
    assert bench._degraded_environment(None, None) is False
    assert bench._degraded_environment(None, 15.0) is False
    # boundary: exactly at the threshold is healthy (strict <)
    assert bench._degraded_environment(5.0, 5.0) is False


def test_noisy_cpu_threshold():
    """The r12 noise class: run-long hypervisor steal above 1.5% stamps
    the artifact noisy_cpu (the r12 close's 2.91% steal produced that
    round's only >=1.5x single-shot deltas; healthy runs read <=0.4%).
    Kept separate from degraded_environment so the bandwidth class
    (r11) and the steal class (r12) stay forensically distinct."""
    import bench

    assert bench._noisy_cpu(2.91) is True
    assert bench._noisy_cpu(0.4) is False
    assert bench._noisy_cpu(0.0) is False
    # no /proc/stat -> no evidence of steal
    assert bench._noisy_cpu(None) is False
    # boundary: exactly at the threshold is healthy (strict >)
    assert bench._noisy_cpu(1.5) is False
    assert bench._noisy_cpu(1.51) is True


def test_committed_bench_full_declares_environment_health():
    """Every published BENCH_FULL.json must carry the degraded_environment
    stamp beside mem_gauge_gbps (r12): the r11 close spent a round of
    forensics attributing a uniform 1.15x inflation to a
    bandwidth-starved host because the artifact did not self-declare.
    The key must EXIST (a dropped stamp silently reverts to
    reader-interprets-the-gauge) and must agree with the recorded gauge
    numbers under the committed threshold."""
    import json
    import os

    import bench

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_FULL.json")
    if not os.path.exists(path):
        pytest.skip("BENCH_FULL.json not present")
    with open(path) as fh:
        full = json.load(fh)
    assert "degraded_environment" in full
    gauge = full.get("mem_gauge_gbps") or {}
    expected = bench._degraded_environment(gauge.get("start"), gauge.get("end"))
    assert full["degraded_environment"] == expected
    # r13: the artifact must also self-declare its CPU window (the r12
    # close's 2.91% steal was readable only by a reader who knew to
    # look at host_cpu_pct).
    assert "noisy_cpu" in full
    steal = (full.get("host_cpu_pct") or {}).get("steal_pct")
    assert full["noisy_cpu"] == bench._noisy_cpu(steal)


def test_close_protocol_rejects_unpublishable_bench_artifact(tmp_path):
    """The close protocol's last stage passes a clean artifact recorded
    at the host's core count and names every reason a run must not be
    published: no total, errors, a noise stamp, or another core count."""
    import json

    from scripts.close_protocol import bench_full_problems

    clean = {"value": 200.0, "errors": {}, "noisy_cpu": False,
             "degraded_environment": False, "cpus": 4}
    path = tmp_path / "BENCH_FULL.json"
    path.write_text(json.dumps(clean))
    assert bench_full_problems(str(path), 4) == []

    path.write_text(json.dumps({
        "value": None, "errors": {"q": {"class": "ValueError"}},
        "noisy_cpu": True, "degraded_environment": True, "cpus": 32,
    }))
    problems = bench_full_problems(str(path), 4)
    assert len(problems) == 5
    assert any("cpus is 32" in p for p in problems)
    # an artifact without the stamps cannot show a clean host
    path.write_text(json.dumps({"value": 200.0, "cpus": 4}))
    assert len(bench_full_problems(str(path), 4)) == 2
    assert bench_full_problems(str(tmp_path / "missing.json"), 4)
