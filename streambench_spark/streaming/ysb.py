"""Streaming execution of the YSB query — same expression tree as the
batch plan (plans/ysb.py), wrapped with the reference's streaming policy
surface (SURVEY.md §2.7):

- T2 watermarks: the reference Spark runner uses NO watermark + update
  mode (state never evicted, SparkYahooRunner.scala:71-84); Flink uses
  wm = max_seen - 1ms (YahooBenchmark.scala:149-162). Both are options
  here; default is a small watermark so long runs don't OOM state.
- T3 late data: append mode + watermark drops it (Flink FIRE_AND_PURGE);
  update mode keeps revising (Spark-runner behavior).
- T4 triggers: processing-time early firing ≙ Flink
  EventAndProcessingTimeTrigger; availableNow for bounded replay.
- T6 checkpointing: per-run checkpoint dir like the reference's random
  dirs (SparkYahooRunner.scala:82).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from streambench_spark.plans.ysb import ysb_query


def ysb_streaming(
    events_stream: DataFrame,
    customer: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "1 second",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming YSB plan: optional watermark, then the shared batch tree.

    ``watermark=None`` reproduces the reference Spark runner's unbounded
    update-mode state (documented OOM hazard at scale)."""
    src = events_stream
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    return ysb_query(src, customer, window=window)


def start_query(
    sdf: DataFrame,
    fmt: str = "noop",
    mode: str = "update",
    available_now: bool = False,
    trigger_interval_ms: int | None = None,
    query_name: str | None = None,
    options: dict[str, str] | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Generic query starter exposing the reference's emission-policy knobs.

    - ``trigger_interval_ms`` ≙ Flink's ``flinkTriggerIntervalMillis``
      (T4, EventAndProcessingTimeTrigger early firing): processing-time
      trigger cadence for unbounded runs.
    - ``available_now`` drains bounded input then stops (the deterministic
      replay policy). Mutually exclusive with the interval trigger.
    - ``checkpoint`` is the checkpoint directory; by default a fresh
      temp directory that outlives the query.
    """
    writer = sdf.writeStream.format(fmt).outputMode(mode).option(
        "checkpointLocation", checkpoint or tempfile.mkdtemp(prefix="sb_ckpt_")
    )
    if query_name:
        writer = writer.queryName(query_name)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if available_now and trigger_interval_ms is not None:
        raise ValueError("availableNow and processingTime triggers are exclusive")
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval_ms is not None:
        writer = writer.trigger(processingTime=f"{trigger_interval_ms} milliseconds")
    return writer.start()


@contextmanager
def _pinned_no_data_batch(spark: SparkSession, enabled: bool):
    """Temporarily disable the trailing no-data micro-batch for a bounded
    drain whose final watermark batch is PROVABLY emission-free.

    availableNow runs one extra data-less batch after the input drains so
    the advanced watermark can finalize state (emit closed windows /
    outer-join nulls, evict state). Operators whose emissions all happen
    on DATA batches — inner stream-stream joins (matches emit when both
    rows are present; the watermark bounds state, not emission) and
    dropDuplicates[WithinWatermark] (first occurrence emits immediately;
    eviction emits nothing) — pay that batch's full per-partition
    state-store commit cycle (measured 1.2-1.6 s on the sf0.1 interval
    joins) for zero output rows. Callers assert that property by passing
    final_no_data_batch=False; anything watermark-FINALIZED (append-mode
    aggregates, outer joins) must keep the default. Restored after the
    run, so surrounding queries are unaffected."""
    if enabled:
        yield
        return
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


# The most state partitions a drain gets from the policy: one per core
# up to here. Each state partition pays a fixed per-batch cost (store
# load, commit, a task), and at local[32] the JVM-state drains measured
# much slower at 32 than at 8 (r16: interval joins 8.2 s against 2.8 s).
_MAX_STATE_PARTITIONS = 8


@contextmanager
def _pinned_state_partitions(spark: SparkSession, n: int | None):
    """Pin spark.sql.shuffle.partitions for a bounded streaming run — the
    one state-partition policy every drain goes through. A stateful
    query's state-store count is fixed at its first checkpoint, and each
    state partition pays a fixed per-batch cost, so the count follows the
    cluster, not the batch default: ``n=None`` means one partition per
    core (``defaultParallelism``), capped at ``_MAX_STATE_PARTITIONS``.
    On a 4-core host that is 4 partitions in one task wave (8 in two
    waves made the three registry_mix drains 26-30% slower, and 2 was no
    faster than 4); on wider hosts it is the 8 measured there. The
    reference exposes the same knob as ``sparkParallelism``
    (SparkYahooRunner.scala:69); pass ``n`` only to pin a count on
    purpose. Restored after the drained run, so surrounding batch
    queries are unaffected."""
    if n is None:
        n = min(spark.sparkContext.defaultParallelism, _MAX_STATE_PARTITIONS)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@contextmanager
def _drain_checkpoint():
    """A private checkpoint directory for one bounded drain, removed once
    the drain is over: nothing reads it after the query terminates (the
    result is read from the memory table or the output path)."""
    path = tempfile.mkdtemp(prefix="sb_ckpt_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def run_to_memory(
    sdf: DataFrame,
    mode: str = "update",
    available_now: bool = True,
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> tuple[StreamingQuery, str]:
    """Run a streaming DataFrame to a memory sink; returns (query, table).

    availableNow drains all available input then stops — the deterministic
    replay path used by tests and the registry's streaming queries.
    A drained run's checkpoint is removed; a running query keeps its own."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _pinned_state_partitions(sdf.sparkSession, state_partitions):
        if not available_now:
            return start_query(sdf, fmt="memory", mode=mode, query_name=name), name
        with _drain_checkpoint() as ckpt:
            q = start_query(sdf, fmt="memory", mode=mode, available_now=True,
                            query_name=name, checkpoint=ckpt)
            # awaitTermination returns False on timeout — an incomplete run
            # must not masquerade as the final state.
            if not q.awaitTermination(timeout_s):
                q.stop()
                raise TimeoutError(
                    f"availableNow run exceeded {timeout_s}s before draining"
                )
    return q, name


def run_streaming_ysb_append(
    spark: SparkSession,
    events_stream: DataFrame,
    customer: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 second",
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Append-mode + watermark + parquet file sink — the scale-correct
    streaming shape (T2/T3 through the driver surface): state is evicted
    as the watermark passes each window, results land in files (never the
    driver), and late rows are dropped.

    Emission semantics (validated in tests): a window is emitted once the
    final watermark (max event time − delay, advanced by the closing
    no-data micro-batch) is >= its end; the trailing window(s) remain in
    state and are NOT emitted — bounded-input append mode is the batch
    result minus unfinalized windows."""
    out = ysb_streaming(events_stream, customer, window=window, watermark=watermark)
    return run_append_to_parquet(spark, out, timeout_s=timeout_s,
                                 state_partitions=state_partitions)


def run_append_to_parquet(
    spark: SparkSession,
    out: DataFrame,
    timeout_s: int = 300,
    state_partitions: int | None = None,
    final_no_data_batch: bool = True,
) -> DataFrame:
    """Drain a streaming DataFrame availableNow in append mode to a
    parquet file sink and return the files as a batch DataFrame — the
    scale-correct streaming shape (bounded state, nothing collected to
    the driver); raises on timeout so a partial drain never masquerades
    as the final result.

    ``final_no_data_batch=False`` skips the trailing watermark-finalize
    micro-batch — ONLY for plans whose emissions all happen on data
    batches (see _pinned_no_data_batch); append-mode aggregates and
    outer joins must keep the default."""
    path = tempfile.mkdtemp(prefix="sb_append_out_")
    with _pinned_state_partitions(spark, state_partitions), \
            _pinned_no_data_batch(spark, final_no_data_batch), \
            _drain_checkpoint() as ckpt:
        q = start_query(out, fmt="parquet", mode="append", available_now=True,
                        options={"path": path}, checkpoint=ckpt)
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"append-mode run exceeded {timeout_s}s")
    return spark.read.schema(out.schema).parquet(path)


def run_update_to_parquet(
    spark: SparkSession,
    out: DataFrame,
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain an update-mode streaming DataFrame availableNow through a
    foreachBatch parquet APPEND and return the accumulated emissions as
    a batch DataFrame. The file sink alone can't take update mode; the
    foreachBatch hop can — every micro-batch's emissions land in files,
    never the driver, so per-key state size doesn't bound the driver
    (the memory-sink drain does — test-scale only). Downstream reduces
    the cumulative emissions (e.g. max per key for monotonic counters).
    Raises on timeout so a partial drain never masquerades as final."""
    path = tempfile.mkdtemp(prefix="sb_update_out_")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    with _pinned_state_partitions(spark, state_partitions), \
            _drain_checkpoint() as ckpt:
        q = (
            out.writeStream.foreachBatch(handle)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"update-mode drain exceeded {timeout_s}s")
    return spark.read.schema(out.schema).parquet(path)


def run_streaming_ysb_to_table(
    spark: SparkSession,
    events_stream: DataFrame,
    customer: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Bounded streaming run, final state returned as a batch DataFrame.

    complete mode + memory sink → the final table IS the full aggregate
    state, equal to the batch query over the same input (streaming ≡ batch
    equivalence, SURVEY.md §5.2 step 2)."""
    out = ysb_streaming(events_stream, customer, window=window, watermark=watermark)
    _, table = run_to_memory(out, mode=mode, available_now=True,
                             state_partitions=state_partitions)
    return spark.table(table)


def run_update_with_interval_trigger(
    spark: SparkSession,
    out: DataFrame,
    expected_rows: int,
    trigger_ms: int = 150,
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """T4 end-to-end: drain a bounded stream under a PROCESSING-TIME
    trigger (the reference's early-fire cadence — Flink
    flinkTriggerIntervalMillis / EventAndProcessingTimeTrigger, and the
    knob start_query exposes) instead of availableNow.

    The query fires every ``trigger_ms``; each micro-batch's update-mode
    emissions land in parquet via foreachBatch (never the driver). The
    driver-side loop polls progress events until the source is exhausted,
    then stops the query. Two exhaustion signals (progress is only
    reported for COMPLETED batches, so either implies every emission is
    flushed):

    - cumulative numInputRows >= expected_rows — the fast path, but
      numInputRows is an ATTRIBUTED metric: when the micro-batch plan
      mixes the streaming scan with a static parquet leaf (the customer
      join), Spark's leaf-to-source matching can fail and report 0 for
      batches that did read a file (observed on a degenerate fixture:
      offsets advanced 0..n_files while attributed rows summed to half
      the input — the r14 universe-fuzz stall).
    - a completed batch whose startOffset == endOffset: the replay dir
      is FROZEN after setup, so a batch that consumed no new files means
      the file source is drained regardless of metric attribution.

    CONTRACT (ADVICE r14): the second signal requires Spark to COMMIT a
    no-data micro-batch, which it only does for STATEFUL plans with
    noDataMicroBatches enabled (the default; Spark 3.4+ emits
    QueryIdleEvent — not a progress entry — for stateless no-data
    triggers). ``out`` must therefore be a stateful (aggregating) plan,
    as the YSB caller's is; a stateless reuse would fall back to the
    numInputRows path and, if attribution fails, only surface as the
    TimeoutError. The guard below enforces this at start.

    The loop also surfaces q.exception() immediately instead of letting
    a failed query masquerade as a drain timeout. Downstream takes the
    per-key maximum of the cumulative emissions: update-mode re-emits a
    key each time its state changes, and the YSB aggregates (count,
    max ts) are monotonic, so max == final state == the batch result —
    deterministic for ANY trigger cadence / file order."""
    import json as _json
    import tempfile as _tempfile
    import time as _time

    # Stateful-plan contract check (see docstring): the offsets-stable
    # drain signal is only sound when no-data micro-batches commit.
    analyzed = out._jdf.queryExecution().analyzed().toString()
    if "Aggregate" not in analyzed and "FlatMapGroupsWithState" not in analyzed:
        raise ValueError(
            "run_update_with_interval_trigger requires a stateful plan "
            "(aggregation / mapGroupsWithState); a stateless sink would "
            "never commit the no-data micro-batch the drain check needs"
        )

    path = _tempfile.mkdtemp(prefix="sb_trigger_out_")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    with _pinned_state_partitions(spark, state_partitions), \
            _drain_checkpoint() as ckpt:
        q = (
            out.writeStream.foreachBatch(handle)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{trigger_ms} milliseconds")
            .start()
        )
        deadline = _time.time() + timeout_s
        # recentProgress is a RING BUFFER (numRecentProgressUpdates,
        # default 100 entries) — summing it alone undercounts once old
        # batches age out on a long drain. Accumulate per-batchId counts
        # across polls instead; batch ids are unique per completed batch.
        rows_by_batch: dict[int, int] = {}
        offsets_stable = False
        try:
            while True:
                for p in q.recentProgress:
                    prog = _json.loads(p) if isinstance(p, str) else p
                    if not isinstance(prog, dict):
                        prog = _json.loads(prog.json)
                    rows_by_batch[prog["batchId"]] = prog["numInputRows"]
                    src = (prog.get("sources") or [{}])[0]
                    start, end = src.get("startOffset"), src.get("endOffset")
                    if start is not None and start == end:
                        offsets_stable = True
                seen = sum(rows_by_batch.values())
                if seen >= expected_rows or offsets_stable:
                    break
                exc = q.exception()
                if exc is not None:
                    raise exc
                if _time.time() > deadline:
                    raise TimeoutError(
                        f"interval-trigger drain saw {seen}/{expected_rows} "
                        f"rows within {timeout_s}s"
                    )
                _time.sleep(0.1)
        finally:
            q.stop()
    return spark.read.schema(out.schema).parquet(path)
