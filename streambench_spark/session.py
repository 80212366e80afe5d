"""SparkSession factory — the engine's equivalent of the reference's
``SparkHelper.getAndConfigureSparkSession`` (ysb/benchmark/spark/
SparkHelper.scala:6-27), with defaults tuned for scale rather than the
reference's single-partition benchmark mode.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), broadcast threshold explicit, shuffle partitions sized to the
cluster (here: local[N] test mode). On a 1000-executor cluster the same
session factory is used with ``shuffle_partitions`` set to 2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# set-but-empty env var = unset (int('') would crash at import time)
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or "32")

# Streaming checkpoint files (offsets, commits, state deltas, checksums)
# go through Hadoop's FileSystem API instead of Spark's default
# FileContext-based manager. Without libhadoop (the "Unable to load
# native-hadoop library" warning every run prints), Hadoop's local
# FileContext spawns `readlink`/`chmod` child processes for every file it
# writes: 38-47 ms per checkpoint file, against 11 ms through FileSystem
# (40 `createAtomic` writes each, 4-core Linux host).
# rename stays atomic on a POSIX directory, and the checksum files
# (spark.sql.streaming.checkpoint.fileChecksum.enabled) stay on.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Runtime-settable confs every query relies on, whoever created the
# session: ``get_spark`` sets them, and ``catalog._ensure_session_confs``
# applies them to a session the program did not create (the driver's).
# - nanosAsLong: testdata events.parquet stores TIMESTAMP(NANOS); Spark
#   has no ns timestamp type, so read it as long and convert in the
#   catalog.
# - UTC session timezone: oracle comparisons use epoch-ms arithmetic.
# - the streaming checkpoint manager above.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
}


def get_spark(
    app_name: str = "streambench-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    The reference forces ``spark.sql.shuffle.partitions = 1``
    (SparkYahooRunner.scala:69) because it benchmarks a single core; we
    default to the core count and rely on AQE to coalesce — the setting is
    still exposed as a knob for parity with the reference's
    ``sparkParallelism``.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config(map=RUNTIME_CONFS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Lower the post-shuffle coalescing FLOOR (default 1MB) so
        # parallelismFirst's total/parallelism target actually applies to
        # byte-light CPU-DENSE stages (array_intersect over adjacency
        # arrays, shingle set verify, regex tokenize): at the default, a
        # 5 MB shuffle feeding 13 CPU-seconds of work coalesces to 5
        # tasks and serializes on a 32-core node (r15 measured:
        # copurchase_triangles 7.2 -> 4.5 s, neardup_ngram_jaccard_capped
        # 3.0 -> 1.8 s). Scale-inert by construction: coalescing can
        # never EXCEED shuffle.partitions, and at production volumes
        # total/parallelism dwarfs any floor so the knob never engages —
        # it only stops tiny-byte stages from losing the parallelism the
        # cluster already has. Env-overridable for per-deployment tuning.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64KB"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.spill.compress", "true")
        # Pin the JVM default locale: Spark's plain lower()/upper() read
        # it on the non-ASCII slow path (Turkish-I class — see
        # llm/hashing.locale_free_lower_sql, which fixes the plans
        # themselves). The pin is defense-in-depth for any remaining
        # locale-reading JVM code path; it cannot retro-apply to a
        # session some other code already launched (static conf), which
        # is exactly why the plan-level fix is the primary one.
        .config("spark.driver.extraJavaOptions",
                "-Duser.language=en -Duser.country=US")
        .config("spark.executor.extraJavaOptions",
                "-Duser.language=en -Duser.country=US")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() silently ignores .config() when a session already exists
    # in the JVM — re-apply every runtime-settable conf the caller relies
    # on (correctness confs always; shuffle partitions and extra_conf when
    # explicitly requested) so they take effect regardless of who created
    # the session first.
    reapply = {
        **RUNTIME_CONFS,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize":
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64KB"),
    }
    if shuffle_partitions is not None:
        reapply["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    reapply.update(extra_conf or {})
    for k, v in reapply.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a pre-existing session: not settable
    return spark
