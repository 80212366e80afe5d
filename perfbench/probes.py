"""Measurement probes the benchmark reads from outside the engine.

- ``Tracer``: spans (name, start, end, parent) kept in memory and written
  as JSON when the run ends. A disabled tracer records nothing.
- ``RssSampler``: peak resident memory (PSS) of this process and every
  descendant (the JVM and its Python workers), sampled from ``/proc``.
- ``SparkCounters``: per-job-range task metrics from the Spark status
  store and block-store residency from ``getRDDStorageInfo`` — both work
  with ``spark.ui.enabled=false``.
- ``ProgressRecorder``: every ``StreamingQueryProgress`` of the session.
- ``live_heap_mb``: the JVM heap in use after a full collection.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # open spans of each thread
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def _record(self, name: str, attrs: dict):
        stack = self._local.__dict__.setdefault("stack", [])
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        stack.append(span["id"])
        try:
            yield span
        finally:
            stack.pop()
            span["end"] = time.perf_counter() - self._t0

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name, attrs)

    def total(self, name: str, **match) -> float:
        """Summed duration of closed spans called ``name`` whose
        attributes equal ``match``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and all(s.get(k) == v for k, v in match.items())
        )

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background thread sampling the resident memory of this process
    and its descendants. Each process counts its proportional share of
    pages it shares (PSS), so forked Python workers are not counted once
    per worker for the pages they share with their parent."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(pid) for pid in _tree_pids(root))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


STAGE_FIELDS = {
    # metric name -> (StageData accessor, scale to the reported unit)
    "tasks": ("numTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class SparkCounters:
    """Reads the status store of one SparkContext.

    Jobs are attributed by id: ``jobs_since(mark)`` returns every job
    submitted after ``mark`` (a value of ``last_job_id``), whatever its
    job group — streaming micro-batches run under their query's run id
    and pool threads do not inherit the caller's group, yet both belong
    to the operation that started them. Operations run one at a time,
    so the id range is exact; the per-operation ``setJobGroup`` labels
    the jobs in the store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        """Id of the newest job, after the listener bus has delivered
        every event posted so far to the store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _jobs_after(self, mark: int) -> list:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = []
        all_jobs = self._store.jobsList(None)  # newest first
        for i in range(all_jobs.size()):
            job = all_jobs.apply(i)
            if job.jobId() <= mark:
                break
            jobs.append(job)
        return jobs

    def job_latencies_ms(self, mark: int, skip_group: str) -> list[float]:
        """Submission-to-completion time of each finished job after
        ``mark``, except those of job group ``skip_group``."""
        out = []
        for job in self._jobs_after(mark):
            group = job.jobGroup()
            if group.isDefined() and group.get() == skip_group:
                continue
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out.append(float(job.completionTime().get().getTime()
                                 - job.submissionTime().get().getTime()))
        return out

    def jobs_since(self, mark: int) -> dict:
        """Job, stage and task-metric totals of the jobs after ``mark``."""
        jobs = self._jobs_after(mark)
        stage_ids = {sid for job in jobs for sid in _seq(job.stageIds())}
        out = {"jobs": len(jobs), "stages": 0, **{k: 0.0 for k in STAGE_FIELDS}}
        if not stage_ids:
            return out
        jvm = self.sc._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for stage in _seq(stages):
            if stage.stageId() not in stage_ids or stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for name, (accessor, scale) in STAGE_FIELDS.items():
                out[name] += getattr(stage, accessor)() * scale
        return out

    def resident(self) -> tuple[int, int]:
        """(bytes, RDD count) currently held in the block store."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return (sum(i.memSize() + i.diskSize() for i in infos), len(infos))


class ProgressRecorder(StreamingQueryListener):
    """Collects every progress event, keyed by query id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.setdefault(str(event.progress.id), []).append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_query(self, query_id) -> list:
        with self._lock:
            return list(self.progress.get(str(query_id), []))

    def all(self) -> list:
        with self._lock:
            return [p for ps in self.progress.values() for p in ps]


def streaming_totals(progress: list) -> dict:
    """``streaming.*`` and ``sources.*`` sums over progress events."""
    def dur(p, key):
        return float((p.durationMs or {}).get(key, 0))

    first = {}
    for p in progress:  # the lowest batch id of each query
        if str(p.id) not in first or p.batchId < first[str(p.id)].batchId:
            first[str(p.id)] = p
    ops = [op for p in progress for op in (p.stateOperators or [])]
    last_ops: dict = {}
    for p in progress:
        for i, op in enumerate(p.stateOperators or []):
            last_ops[(str(p.id), i)] = op
    return {
        "streaming.batches": len(progress),
        "streaming.trigger_ms": sum(dur(p, "triggerExecution") for p in progress),
        "streaming.query_planning_ms": sum(dur(p, "queryPlanning") for p in progress),
        "streaming.first_batch_planning_ms": sum(
            dur(p, "queryPlanning") for p in first.values()),
        "streaming.add_batch_ms": sum(dur(p, "addBatch") for p in progress),
        "streaming.wal_commit_ms": sum(dur(p, "walCommit") for p in progress),
        "streaming.commit_offsets_ms": sum(dur(p, "commitOffsets") for p in progress),
        "streaming.state_commit_ms": float(sum(op.commitTimeMs for op in ops)),
        "streaming.state_rows": sum(op.numRowsTotal for op in last_ops.values()),
        "streaming.state_mem_bytes": sum(op.memoryUsedBytes for op in last_ops.values()),
        "sources.latest_offset_ms": sum(dur(p, "latestOffset") for p in progress),
        "sources.get_batch_ms": sum(dur(p, "getBatch") for p in progress),
        "sources.input_rows": sum(p.numInputRows for p in progress),
    }


# --- JVM heap -------------------------------------------------------------

def _heap_usage(spark):
    return spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage()


def live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection: what the program
    holds (block-store blocks, broadcasts, state), without the garbage
    whose amount depends on when the collector last ran. Python's
    collector runs first, so JVM objects that only Python garbage still
    pins are released; the JVM collects twice, so blocks Spark's
    ContextCleaner drops after the first collection are gone too. Called
    between timed calls; none of this is timed."""
    import gc

    gc.collect()
    collect = spark._jvm.java.lang.System.gc
    collect()
    time.sleep(0.2)  # the cleaner polls its reference queue every 0.1 s
    collect()
    return _heap_usage(spark).getUsed() / 2**20


def committed_heap_mb(spark) -> float:
    return _heap_usage(spark).getCommitted() / 2**20

