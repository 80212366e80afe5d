"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload ysb_live --seed 1 --seconds 20 --trace 0

Run from the repository root. The input tables are generated once per
checkout (``datagen.py``, a fixed data seed); the run seed permutes the
query order of ``registry_mix`` and rotates the replay's starting row of
``ysb_live``. Every output is checked (untimed) and the last line of
standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its
per-layer metrics (``--trace 1``). A traced run measures the workload
untraced, traced, and untraced again, and reports the tracing overhead
as the traced pass against the untraced pass after it.
Exit status: 0 when every check passed, 1 when one failed, 2 when the
repository or ``BENCHMARK.json`` is missing. Everything a run writes
stays under ``.perfbench/`` in the root; spans and a run record (with
the host gauges) are kept there. See ``NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

import pyarrow.parquet as pq

import closed_loop
import datagen
import engine
import probes
import ysb_live

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ysb_live", "registry_mix")
# A fixed heap, committed up front (see engine.launch): with the
# session's default 8g the heap grew to wherever the collector's
# heuristics stopped, and peak RSS spread 2.7-5.5 GB between runs.
DRIVER_MEM = "3g"
# The input tables are one fixed sf0.1-shaped data set, as the project's
# own sf0.1 test data is; the run seed varies query order and replay
# start, not the data.
DATA_SEED = 20240101


def dataset(scale: float = 1.0) -> str:
    """The input tables, generated once per checkout."""
    path = os.path.join(ROOT, ".perfbench", f"data-{DATA_SEED}-{scale}")
    if not os.path.isdir(path):
        os.replace(datagen.write(DATA_SEED, f"{path}.{os.getpid()}", scale), path)
    return path


def memory(rss, heap_mb: float, live_mb: list[float]) -> dict:
    """The tree's peak PSS with the fixed JVM heap counted at its live
    size: the pre-touched heap is resident in full whatever the program
    does with it, so it is replaced by the largest live heap read."""
    other = rss.peak_mb - heap_mb
    live = max(live_mb)
    return {"peak_rss_mb": other + live,
            "memory.other_mb": other, "memory.live_heap_mb": live}


def run_registry_mix(args, data_dir, scratch, tracer, rss) -> dict:
    from streambench_spark.schemas import TESTDATA_TABLES

    tiny = dataset(scale=0.01)
    spark, setup_s = engine.setup(scratch, lambda s: closed_loop.warm(s, tiny), tracer)
    heap_mb = probes.committed_heap_mb(spark)
    passes = [(probes.Tracer(False), False)]
    if args.trace:
        passes += [(tracer, True), (probes.Tracer(False), False)]
    measured = [
        closed_loop.run(spark, closed_loop.REGISTRY_MIX, data_dir, args.seed,
                        pass_tracer, traced)
        for pass_tracer, traced in passes
    ]
    # before the oracles run in this process
    live = [r["live_heap_mb"] for recs, _, _ in measured for r in recs if r["ok"]]
    out = {"setup_s": setup_s, "memory": memory(rss, heap_mb, live or [0.0]),
           "attempted": 0, "failed": 0, "queries": []}
    engine.stop(spark)

    oracles = engine.Oracles(data_dir)
    rows = sum(pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows
               for t in TESTDATA_TABLES)
    for (recs, job_ms, progress), (_, traced) in zip(measured, passes):
        closed_loop.check(recs, oracles)
        out["attempted"] += len(recs)
        out["failed"] += sum(not r["correct"] for r in recs)
        out["queries"] += [{k: r.get(k) for k in
                            ("name", "build_s", "exec_s", "live_heap_mb", "correct", "error")}
                           for r in recs]
        e2e = closed_loop.end_to_end(recs, job_ms, rows)
        if traced:
            out["layers"] = closed_loop.per_layer(recs, progress)
            traced_wall = e2e["wall_s"]
        elif "e2e" not in out:
            out["e2e"] = e2e
        else:  # the untraced pass after the traced one, equally warm
            out["layers"]["trace.overhead_pct"] = (
                100 * (traced_wall - e2e["wall_s"]) / e2e["wall_s"]
                if traced_wall and e2e["wall_s"] else None)
    return out


def run_ysb_live(args, data_dir, scratch, tracer, rss) -> dict:
    rot = ysb_live.rotation(
        args.seed, pq.read_metadata(os.path.join(data_dir, "events.parquet")).num_rows)
    recorder = probes.ProgressRecorder()
    tiny = dataset(scale=0.01)

    def warm(spark):
        spark.streams.addListener(recorder)
        closed_loop.warm(spark, tiny)

    spark, setup_s = engine.setup(scratch, warm, tracer)
    heap_mb = probes.committed_heap_mb(spark)
    # The live pipeline's own warm-up is not timed: most of it is waiting
    # on the rate source's clock.
    ysb_live.warm(spark, recorder, data_dir, rot, scratch, tracer)
    res = ysb_live.measure(spark, recorder, data_dir, rot, args.seconds, scratch,
                           probes.Tracer(False), False)
    out = {"setup_s": setup_s, "e2e": res["e2e"], "attempted": res["attempted"],
           "failed": res["failed"], "samples": res["samples"],
           "over_batches": res["over_batches"]}
    live = [res["live_heap_mb"]]
    if args.trace:
        traced = ysb_live.measure(spark, recorder, data_dir, rot, args.seconds,
                                  scratch, tracer, True)
        # compared with an untraced pass after it, which is equally warm
        again = ysb_live.measure(spark, recorder, data_dir, rot, args.seconds,
                                 scratch, probes.Tracer(False), False)
        out["attempted"] += traced["attempted"] + again["attempted"]
        out["failed"] += traced["failed"] + again["failed"]
        live += [traced["live_heap_mb"], again["live_heap_mb"]]
        base = again["e2e"]["latency_p50_ms"]
        out["layers"] = {**traced["layers"], "trace.overhead_pct":
                         100 * (traced["e2e"]["latency_p50_ms"] - base) / base}
    out["memory"] = memory(rss, heap_mb, live)
    engine.stop(spark)
    if args.trace:
        out["layers"]["baseline.local1_rows_per_s"] = ysb_live.local1_point(
            scratch, data_dir, rot, tracer)
    return out


def measure(args, spec: dict, scratch: str) -> dict:
    # the host gauges of bench.py, so the stamps compare with its history
    from bench import _cpu_gauge, _host_cpu_pct, _mem_gauge_gbps, _proc_stat

    tracer = probes.Tracer(bool(args.trace))
    stat0 = _proc_stat()
    host = {"host.cpu_gauge_s": _cpu_gauge(), "host.mem_gauge_gbps": _mem_gauge_gbps()}
    data_dir = dataset()
    body = run_ysb_live if args.workload == "ysb_live" else run_registry_mix
    with probes.RssSampler() as rss:
        try:
            out = body(args, data_dir, scratch, tracer, rss)
        finally:
            engine.shutdown_jvm()
    host["host.steal_pct"] = _host_cpu_pct(stat0, _proc_stat()).get("steal_pct")
    mem = out["memory"]

    e2e = {
        "setup_s": out["setup_s"],
        **out["e2e"],
        "peak_rss_mb": mem["peak_rss_mb"],
        "ok_ratio": (out["attempted"] - out["failed"]) / out["attempted"],
    }
    if args.trace:
        values = {
            "session.start_s": tracer.total("session.start"),
            "session.warmup_s": tracer.total("session.warmup"),
            # latency of the untraced pass, reported but not gated: it
            # follows the host's CPU steal (NOTES.md)
            "latency.p50_ms": e2e["latency_p50_ms"],
            "latency.p95_ms": e2e["latency_p95_ms"],
            "memory.live_heap_mb": mem["memory.live_heap_mb"],
            "memory.other_mb": mem["memory.other_mb"],
            **out["layers"],
            **host,
        }
        declared = spec["per_layer"]
    else:
        values, declared = e2e, spec["end_to_end"]
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        # a layer the workload does not exercise reads 0
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in declared},
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    keep = os.path.join(ROOT, ".perfbench")
    tracer.write(os.path.join(keep, "traces", f"{name}.json"))
    os.makedirs(os.path.join(keep, "runs"), exist_ok=True)
    with open(os.path.join(keep, "runs", f"{name}.json"), "w") as fh:
        json.dump({"result": result, "end_to_end": e2e, "memory": mem, "host": host,
                   "latency_samples": out.get("samples"),
                   "over_batches": out.get("over_batches"),
                   "queries": out.get("queries")}, fh, indent=1)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "streambench_spark", "session.py"))
            and os.path.isfile(spec_path)):
        print(f"perfbench: {ROOT} holds no streambench_spark or BENCHMARK.json",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    # Everything the engine writes (spill, checkpoints, temp tables, JVM
    # temp files) goes to a per-run directory inside the checkout.
    scratch = os.path.join(ROOT, ".perfbench", f"scratch-{os.getpid()}")
    os.makedirs(scratch)
    os.environ.update(TMPDIR=scratch, SPARK_LOCAL_DIRS=scratch, SPARK_GRAFT_CPUS="4",
                      SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM)
    tempfile.tempdir = scratch
    sys.path.insert(0, ROOT)
    try:
        result = measure(args, spec, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
