"""Sink builders.

Reference parity:
- S8 console/metrics display (.show — YahooBenchmark.scala:63-73) and
  S9 record/window sinks (StreamBox RecordBundleSink/WindowsBundleSink,
  sbx/test-yahoo.cpp:140-160) → ``streaming.ysb.start_query(sdf,
  fmt="console"|"noop"|"parquet")`` and the foreachBatch sinks below
- S10 latency-measuring sink (Flink TimestampingSink,
  YahooBenchmark.scala:35-70) → foreachBatch stamping arrival time;
  the Kafka-free harness substitutes foreachBatch arrival time for the
  broker's LogAppendTime (documented difference, SURVEY.md §7.3)
- S2/S3 Kafka sinks (to_json(struct("*")) — YahooBenchmarkRunner.scala:40-53)
  gated behind broker availability; the JSON serialization is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streambench_spark.streaming.ysb import _drain, start_writer


def latency_marking_sink(
    sdf: DataFrame, collector: list, mode: str = "update",
    available_now: bool = False,
) -> StreamingQuery:
    """S10: stamps each micro-batch with arrival time (processing clock)
    and appends (arrival_ms, rows, max_last_update_ms) to ``collector`` —
    the Kafka-free analog of the broker LogAppendTime latency clock.
    The batch is lazy until its aggregate is collected, so the stamp is
    taken after ``collect()`` returns: every record has been produced by
    then, and ``arrival_ms >= max_last_update_ms`` holds."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        import time

        agg = batch_df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.max("last_update_ms").alias("max_lu"),
        ).collect()[0]
        arrival_ms = int(time.time() * 1000)
        collector.append((arrival_ms, agg["rows"], agg["max_lu"]))

    return start_writer(sdf.writeStream.foreachBatch(handle).outputMode(mode),
                        available_now)


def incremental_mv_sink(
    sdf: DataFrame,
    path: str,
    partialize,
) -> StreamingQuery:
    """Merge-on-read incremental materialized view: every micro-batch is
    reduced to PARTIAL aggregates by ``partialize`` (a batch→batch
    DataFrame function, e.g. groupBy(key).agg(count, sum)) and APPENDED
    to a parquet directory. The reader merges partials with a final
    re-aggregation (sum of counts, sum of sums — any commutative monoid).

    This is the zero-state-store alternative to update-mode streaming
    aggregation: no watermark, no state eviction problem, bounded memory
    regardless of key cardinality (each batch holds only its own keys),
    and the MV directory compacts on read — the classic lakehouse
    incremental-aggregate pattern. At 100 TB, pair with periodic
    compaction of the partials directory (compact_parquet_dir with the
    merge as its transform) so read-side merge cost stays O(keys), not
    O(batches x keys).

    A bounded drain through the one drain core (streaming.ysb._drain):
    availableNow, its checkpoint removed once the query ends, and a
    raise on timeout so a partial run never masquerades as the final MV.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        partialize(batch_df).write.mode("append").parquet(path)

    writer = sdf.writeStream.foreachBatch(handle).outputMode("append")
    return _drain(sdf.sparkSession, writer)


def compact_parquet_dir(
    spark,
    path: str,
    transform=None,
    target_partitions: int = 1,
) -> int:
    """Compact an append-accumulating parquet directory in place: read,
    optionally ``transform`` (e.g. re-aggregate incremental_mv_sink
    partials so N batches' rows per key collapse to one), rewrite at
    ``target_partitions`` files, atomically swap directories. Returns
    the number of files after compaction.

    This is the maintenance half of the merge-on-read MV pattern —
    bounding read-side merge cost as batches accumulate. Plain-parquet
    caveat (documented, not hidden): the directory swap is atomic on a
    POSIX filesystem but readers mid-scan can still observe the old
    listing; production lakes get true snapshot isolation from a
    transactional table format, where compaction is a metadata commit.
    """
    import glob
    import os
    import shutil

    old = path.rstrip("/") + ".compact_old"
    tmp = path.rstrip("/") + ".compact_tmp"
    # crash recovery BEFORE touching anything: a kill between the two
    # renames of a previous run leaves `old` holding the only copy of
    # the data (path missing) — restore it; a kill after the second
    # rename leaves a stale `old` that would fail this run's rename
    # with ENOTEMPTY — remove it. A stale tmp is always safe to drop.
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    df.repartition(target_partitions).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "*.parquet")))


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Data-lake batch sink: write partitioned by the given columns
    (`path/col=value/...` layout) so downstream scans get partition
    pruning for free. The standard output shape of a corpus pipeline
    stage (e.g. partition by lang/source); at 100 TB pair with a
    repartition on the partition columns upstream to avoid
    small-files-per-partition blowup."""
    df.write.partitionBy(*partition_cols).format(fmt).mode("overwrite").save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Bucketed managed-table sink: hash-bucket rows by the join/agg key
    at WRITE time so every later equi-join or aggregation on that key is
    co-located — Catalyst sees the bucketing and drops the Exchange on
    both sides of a bucketed-⋈-bucketed join (verified by test: zero
    shuffles in the join plan).

    This is the 100 TB pattern for dimension/fact tables that join
    repeatedly on the same key: pay one shuffle at ingest, never again.
    ``sort_cols`` additionally sorts within buckets (sort-merge join
    without the sort). Requires saveAsTable (bucket metadata lives in the
    catalog, not the files)."""
    w = df.write.format(fmt).mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def to_json_rows(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """S2/S3 serialization: to_json(struct("*")) as value (+ optional key),
    the exact Kafka wire shape of the reference
    (YahooBenchmarkRunner.scala:40-47)."""
    cols = [F.to_json(F.struct(*df.columns)).alias("value")]
    if key_col:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*cols)


def kafka_batch_sink(
    df: DataFrame, topic: str, brokers: str, key_col: str | None = None
) -> None:
    """S3: one-shot batch write of a (small) table to a topic — the
    reference seeds the campaigns dim this way before the run
    (YahooBenchmarkRunner.scala:40-44). Same gating as the sources."""
    from streambench_spark.sources.kafka import kafka_gated

    kafka_gated(
        to_json_rows(df, key_col=key_col)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save
    )


def kafka_sink(
    sdf: DataFrame, topic: str, brokers: str, mode: str = "update"
) -> StreamingQuery:
    """S2: requires the spark-sql-kafka package + a broker; raises a clear
    error otherwise (tests run Kafka-free)."""
    from streambench_spark.sources.kafka import kafka_gated

    writer = (
        to_json_rows(sdf)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .outputMode(mode)
    )
    return kafka_gated(lambda: start_writer(writer))


def idempotent_parquet_sink(
    sdf: DataFrame, path: str, mode: str = "append"
) -> StreamingQuery:
    """T6 depth: exactly-once file output via batch-id-keyed writes,
    drained availableNow through the one drain core (streaming.ysb._drain).

    Structured Streaming's foreachBatch is at-least-once — after a
    restart the last batch can replay with the SAME batch_id. Writing
    each batch to a ``batch=<id>`` subdirectory and skipping ids that
    already exist makes the replay a no-op, which upgrades the sink to
    effective exactly-once (the standard poor-man's transactional sink;
    production uses a table format whose commit log does this job).
    Readers take ``spark.read.parquet(path)`` — the subdirs are plain
    hive-style partitions, so the result gains a synthetic ``batch``
    partition-discovery column (drop it if unwanted).

    The commit-marker probe goes through the Hadoop FileSystem API
    resolved from the write path itself, so it works on any storage the
    cluster writes to (HDFS, S3A, local) — a driver-local
    ``os.path.exists`` would silently never match on remote filesystems
    and replayed batches would duplicate.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        target = path.rstrip("/") + f"/batch={batch_id}"
        jvm = spark._jvm
        marker = jvm.org.apache.hadoop.fs.Path(target + "/_SUCCESS")
        fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(marker):
            return  # replayed batch after restart: already committed
        batch_df.write.mode("overwrite").parquet(target)

    writer = sdf.writeStream.foreachBatch(handle).outputMode(mode)
    return _drain(sdf.sparkSession, writer)


def compact_small_files(
    spark, src_path: str, dst_path: str, target_mb: int = 128
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~``target_mb`` each and return the output file count.

    The operational fix for streaming sinks and over-parallel writes
    (each micro-batch/task leaves a file; a 10k-file day kills scan
    planning: footer reads, scheduler overhead, no row-group locality).
    Sizing comes from the SOURCE bytes on disk (Hadoop FS content
    summary — no data pass), then one coalesce-write: ``coalesce`` is
    used rather than ``repartition`` so compaction is a narrow,
    shuffle-free re-grouping of existing partitions. Row content is
    byte-identical (proven by the registry oracle); only layout changes.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = src.getFileSystem(conf)
    total_bytes = fs.getContentSummary(src).getLength()
    n_files = max(1, int(total_bytes / (target_mb * 1024 * 1024)) or 1)
    df = spark.read.parquet(src_path)
    df.coalesce(n_files).write.mode("overwrite").parquet(dst_path)
    dst = jvm.org.apache.hadoop.fs.Path(dst_path)
    return sum(
        1
        for f in fs.listStatus(dst)
        if f.getPath().getName().endswith(".parquet")
    )
