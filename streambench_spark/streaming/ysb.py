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
  EventAndProcessingTimeTrigger (``run_update_with_interval_trigger``);
  availableNow for bounded replay.
- T6 checkpointing: per-run checkpoint dir like the reference's random
  dirs (SparkYahooRunner.scala:82); every bounded drain goes through one
  core (``_drain``) that also removes its checkpoint once the query ends.
"""

from __future__ import annotations

import json
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

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
    query_name: str | None = None,
    options: dict[str, str] | None = None,
) -> StreamingQuery:
    """Generic query starter: a ``fmt`` sink (console, noop, memory,
    parquet, ...) in output ``mode``, started by ``start_writer``."""
    writer = sdf.writeStream.format(fmt).outputMode(mode)
    if query_name:
        writer = writer.queryName(query_name)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    return start_writer(sdf.sparkSession, writer, available_now)


def start_writer(
    spark: SparkSession,
    writer: DataStreamWriter,
    available_now: bool = False,
) -> StreamingQuery:
    """Start a configured writer. ``available_now`` drains bounded input
    through the one drain core (``_drain``) and returns the terminated
    query; otherwise the query is left running on a fresh checkpoint
    directory that outlives it."""
    if available_now:
        return _drain(spark, writer)
    return writer.option("checkpointLocation", tempfile.mkdtemp(prefix="sb_ckpt_")).start()


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

# How long a bounded drain may run before it is stopped and raises.
_DRAIN_TIMEOUT_S = 300


@contextmanager
def _pinned_state_partitions(spark: SparkSession):
    """Pin spark.sql.shuffle.partitions for a bounded streaming run — the
    one state-partition policy every drain goes through. A stateful
    query's state-store count is fixed at its first checkpoint, and each
    state partition pays a fixed per-batch cost, so the count follows the
    cluster, not the batch default: one partition per core
    (``defaultParallelism``), capped at ``_MAX_STATE_PARTITIONS``.
    On a 4-core host that is 4 partitions in one task wave (8 in two
    waves made the three registry_mix drains 26-30% slower, and 2 was no
    faster than 4); on wider hosts it is the 8 measured there. The
    reference exposes the same knob as ``sparkParallelism``
    (SparkYahooRunner.scala:69). Restored after the drained run, so
    surrounding batch queries are unaffected."""
    n = min(spark.sparkContext.defaultParallelism, _MAX_STATE_PARTITIONS)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@contextmanager
def _drain_scope(spark: SparkSession, final_no_data_batch: bool = True):
    """What every bounded drain runs inside: the state-partition policy,
    the optional no-data-batch pin, and a private checkpoint directory
    (yielded) that is removed once the query is over — nothing reads it
    after the query terminates (the result is read from the memory table
    or the output path)."""
    path = tempfile.mkdtemp(prefix="sb_ckpt_")
    try:
        with _pinned_state_partitions(spark), \
                _pinned_no_data_batch(spark, final_no_data_batch):
            yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    final_no_data_batch: bool = True,
) -> StreamingQuery:
    """The one bounded-drain core: start the configured ``writer``
    availableNow inside ``_drain_scope`` and wait until it has drained
    all available input. awaitTermination returns False on timeout; the
    query is then stopped and TimeoutError raised, so a partial drain
    never masquerades as the final result."""
    with _drain_scope(spark, final_no_data_batch) as ckpt:
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        if not q.awaitTermination(_DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"availableNow drain exceeded {_DRAIN_TIMEOUT_S}s before draining"
            )
    return q


def run_to_memory(sdf: DataFrame, mode: str = "update") -> tuple[StreamingQuery, str]:
    """Drain a streaming DataFrame availableNow to a memory sink; returns
    (query, table). Complete mode makes the final table the full
    aggregate state, equal to the batch query over the same input
    (streaming ≡ batch, SURVEY.md §5.2 step 2). The table lives on the
    driver, so this is test-scale by nature."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = sdf.writeStream.format("memory").outputMode(mode).queryName(name)
    return _drain(sdf.sparkSession, writer), name


def run_append_to_parquet(
    spark: SparkSession,
    out: DataFrame,
    final_no_data_batch: bool = True,
) -> DataFrame:
    """Drain a streaming DataFrame availableNow in append mode to a
    parquet file sink and return the files as a batch DataFrame — the
    scale-correct streaming shape (bounded state, nothing collected to
    the driver).

    ``final_no_data_batch=False`` skips the trailing watermark-finalize
    micro-batch — ONLY for plans whose emissions all happen on data
    batches (see _pinned_no_data_batch); append-mode aggregates and
    outer joins must keep the default."""
    path = tempfile.mkdtemp(prefix="sb_append_out_")
    writer = out.writeStream.format("parquet").outputMode("append").option("path", path)
    _drain(spark, writer, final_no_data_batch)
    return spark.read.schema(out.schema).parquet(path)


def run_update_to_parquet(spark: SparkSession, out: DataFrame) -> DataFrame:
    """Drain an update-mode streaming DataFrame availableNow through a
    foreachBatch parquet APPEND and return the accumulated emissions as
    a batch DataFrame. The file sink alone can't take update mode; the
    foreachBatch hop can — every micro-batch's emissions land in files,
    never the driver, so per-key state size doesn't bound the driver
    (the memory-sink drain does — test-scale only). Downstream reduces
    the cumulative emissions (e.g. max per key for monotonic counters)."""
    path = tempfile.mkdtemp(prefix="sb_update_out_")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    _drain(spark, out.writeStream.foreachBatch(handle).outputMode("update"))
    return spark.read.schema(out.schema).parquet(path)


def run_update_with_interval_trigger(
    spark: SparkSession,
    out: DataFrame,
    expected_rows: int,
    trigger_ms: int = 150,
) -> DataFrame:
    """T4 end-to-end: drain a bounded stream under a PROCESSING-TIME
    trigger (the reference's early-fire cadence — Flink
    flinkTriggerIntervalMillis / EventAndProcessingTimeTrigger) instead
    of availableNow.

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
    deterministic for ANY trigger cadence / file order. Runs inside the
    bounded drains' ``_drain_scope`` (state-partition policy, removed
    checkpoint) and their ``_DRAIN_TIMEOUT_S``."""
    # Stateful-plan contract check (see docstring): the offsets-stable
    # drain signal is only sound when no-data micro-batches commit.
    analyzed = out._jdf.queryExecution().analyzed().toString()
    if "Aggregate" not in analyzed and "FlatMapGroupsWithState" not in analyzed:
        raise ValueError(
            "run_update_with_interval_trigger requires a stateful plan "
            "(aggregation / mapGroupsWithState); a stateless sink would "
            "never commit the no-data micro-batch the drain check needs"
        )

    path = tempfile.mkdtemp(prefix="sb_trigger_out_")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    with _drain_scope(spark) as ckpt:
        q = (
            out.writeStream.foreachBatch(handle)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{trigger_ms} milliseconds")
            .start()
        )
        deadline = time.time() + _DRAIN_TIMEOUT_S
        # recentProgress is a RING BUFFER (numRecentProgressUpdates,
        # default 100 entries) — summing it alone undercounts once old
        # batches age out on a long drain. Accumulate per-batchId counts
        # across polls instead; batch ids are unique per completed batch.
        rows_by_batch: dict[int, int] = {}
        offsets_stable = False
        try:
            while True:
                for p in q.recentProgress:
                    prog = json.loads(p) if isinstance(p, str) else p
                    if not isinstance(prog, dict):
                        prog = json.loads(prog.json)
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
                if time.time() > deadline:
                    raise TimeoutError(
                        f"interval-trigger drain saw {seen}/{expected_rows} "
                        f"rows within {_DRAIN_TIMEOUT_S}s"
                    )
                time.sleep(0.1)
        finally:
            q.stop()
    return spark.read.schema(out.schema).parquet(path)
