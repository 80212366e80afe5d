"""Table catalog over the driver testdata directories (TESTDATA.md).

``load_tables`` returns plain DataFrames; parquet scans get predicate
pushdown + column pruning from Catalyst, so downstream operators never
pre-materialize. At 100 TB the same loader points at a partitioned table
root and partition pruning applies (nothing here assumes single files).
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

from streambench_spark.schemas import TESTDATA_TABLES
from streambench_spark.session import RUNTIME_CONFS

# Single source of the default data dir (the driver's correctness SF);
# the bench keeps its own sf0.1 default — benchmarking SF is a different
# knob from the functional default. __main__ imports this one.
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR") or "/root/testdata/sf0.01"


def _ensure_session_confs(spark: SparkSession) -> None:
    """Apply ``session.RUNTIME_CONFS`` on the CALLER's session.

    The driver invokes queries with its own SparkSession (not our
    ``session.get_spark``), so confs the queries rely on must be applied
    here, not only in the session factory. All are runtime-settable SQL
    confs (verified: ``spark.conf.set`` takes effect for subsequent reads).
    """
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of storage flavor.

    The driver has shipped events.ts as parquet TIMESTAMP(NANOS) (reads as
    raw ns longs under nanosAsLong) and as TIMESTAMP(MICROS) without UTC
    adjustment (reads as TIMESTAMP_NTZ). Downstream operators (windows,
    unix_millis, watermarks) expect plain TIMESTAMP; with a UTC session
    timezone the NTZ→TZ cast leaves the instant unchanged, matching
    DuckDB's naive-timestamp arithmetic in the oracles.
    """
    from pyspark.sql import functions as F

    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        # raw ns longs: truncate to µs with integer division (DIV) —
        # float division would lose precision on ~1.7e18 ns epoch values
        # (double mantissa is 53 bits).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Inferred-schema memo for FILE-shaped parquet tables, keyed on the
# file's identity + mtime + size so any rewrite misses the cache. This
# caches METADATA only (never rows): without it every load_table call
# pays a fresh footer-read schema inference — ~0.05-0.1 s × ~300 loads
# per bench run of pure fixed overhead (guide §6: listing/footer costs
# are driver-side work to amortize). Directory-shaped tables are NOT
# memoized: a file appended inside a partition subdir does not touch the
# top-level mtime, so the key could go stale — and the bench's dir
# tables are freshly-written temp dirs that would never hit the cache.
class _LRUMemo(OrderedDict):
    """Bounded LRU dict: the memos hold a handful of entries per bench
    run (~10 tables x a few SF dirs), but a long-lived session loading
    thousands of distinct paths must not grow them without bound —
    schema/plan objects pin JVM-side references. Eviction order is
    least-recently-USED (gets refresh recency), so the working set of a
    looping workload always stays resident."""

    def __init__(self, maxsize: int = 256) -> None:
        super().__init__()
        self._maxsize = maxsize

    def get(self, key, default=None):
        try:
            value = super().__getitem__(key)
        except KeyError:
            return default
        self.move_to_end(key)
        return value

    def __setitem__(self, key, value) -> None:
        super().__setitem__(key, value)
        self.move_to_end(key)
        while len(self) > self._maxsize:
            self.popitem(last=False)


_SCHEMA_MEMO: _LRUMemo = _LRUMemo()


def _memoized_file_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None  # let the reader raise its own error
    if not os.path.isfile(path):
        return None
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = schema
    return schema


# DataFrame-object memo, same key plus the owning SparkContext: a
# DataFrame is an immutable logical plan — handing the same object to
# every query in a session is exactly what a registered catalog table
# does, and every execution still scans the parquet files afresh (plan
# caching, never row caching). Keyed on applicationId so a stopped /
# restarted session can never see a plan bound to a dead JVM session.
_DF_MEMO: _LRUMemo = _LRUMemo()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        file_key = (
            (os.path.abspath(path), st.st_mtime_ns, st.st_size)
            if os.path.isfile(path)
            else None
        )
    except OSError:
        file_key = None
    df_key = (
        (spark.sparkContext.applicationId, name) + file_key
        if file_key
        else None
    )
    if df_key is not None:
        cached = _DF_MEMO.get(df_key)
        if cached is not None:
            return cached
    schema = _memoized_file_schema(spark, path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_events_ts(df)
    if df_key is not None:
        _DF_MEMO[df_key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each testdata table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def repartition_for_compute(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the plan is narrower than the
    target parallelism. The single-file testdata tables scan as one
    partition, which serializes compute-heavy downstream stages; a real
    lake already delivers thousands of splits, where an unconditional
    repartition would shuffle the whole corpus for nothing — so the
    widening is gated on the actual partition count."""
    p = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df
