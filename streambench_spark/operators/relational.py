"""Relational operators: filter / project / joins / top-k / set ops.

Reference parity (SURVEY.md §2.2, §2.3, §2.6):
- P1 filter          .where($"event_type" === "view")   SparkYahooRunner.scala:72
- P2 projection      .select($"ad_id", $"event_time")   SparkYahooRunner.scala:73
- J1/J2 stream-static equi join (tiny dim side)         SparkYahooRunner.scala:74,
  YahooBenchmark.scala:143-147 (Flink closure map), YahooMapper.cpp:47-65
- J3 stream-stream join with time bounds                sbx Join/* (engine capability)
- J4 cross join (1x1 metric rows)                       YahooBenchmark.scala:63
- top-k              ReducedKVPairCompLess min-heap     sbx/Values.h:1714-1731

Scale notes:
- ``dim_join`` broadcasts explicitly: the dim side in YSB is ~1000 rows;
  at 100 TB the fact side never shuffles for this join.
- ``interval_join`` is an equi-join on key + range predicate: Spark plans a
  SortMergeJoin on the equi part with the range as post-filter — state
  bounded by the time band in streaming, partition-local in batch.
- ``top_k`` uses orderBy+limit: Spark runs per-partition TakeOrdered then a
  single reduce — no global sort shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_where(df: DataFrame, predicate: Column | str) -> DataFrame:
    """P1/P3. Catalyst pushes this into the scan (PushedFilters)."""
    return df.filter(predicate)


def project(df: DataFrame, *cols: Column | str) -> DataFrame:
    """P2. Explicit column pruning (Catalyst also derives it)."""
    return df.select(*cols)


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """J1/J2: fact-to-small-dimension equi join, dim side broadcast.

    The broadcast is the Spark-idiomatic equivalent of the reference's
    closure-captured hashmap (Flink StaticJoinMapper, StreamBox
    YahooMapper.do_map) — each task gets the whole dim table, zero shuffle
    of the fact side.

    Against a streaming fact, a static dim is computed once per query:
    an eager ``localCheckpoint`` snapshot, as the reference caches its
    campaigns table (SparkYahooRunner.scala:74). Otherwise every
    micro-batch would re-scan the dim to build its broadcast. A batch
    fact's plan is left as it is.
    """
    if fact.isStreaming and not dim.isStreaming:
        dim = dim.localCheckpoint(eager=True)
    return fact.join(F.broadcast(dim), on, how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """J3: symmetric join with time bounds (StreamBox generic Join).

    right.ts in [left.ts + lower, left.ts + upper]. In streaming this is
    Spark's watermarked stream-stream join; in batch it is an equi+range
    join. Columns of both sides must be disambiguated by the caller
    (aliases 'l' and 'r' are applied here).

    how='left_outer' is supported in streaming too: unmatched left rows
    emit with NULL right columns once the watermark passes their band
    (state eviction is the emission trigger), so a bounded drain only
    flushes left rows whose ts + upper is below the final watermark.
    """
    l = left.alias("l")
    r = right.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)


_INTERVAL_UNIT_SECONDS = {
    "second": 1.0,
    "seconds": 1.0,
    "minute": 60.0,
    "minutes": 60.0,
    "hour": 3600.0,
    "hours": 3600.0,
    "day": 86400.0,
    "days": 86400.0,
}


def _interval_seconds(interval: str) -> float:
    """Parse 'N unit [N unit ...]' (e.g. '5 minutes', '1 hour 30 minutes')
    into seconds, timezone-free. Mirrors the subset of Spark's multi-unit
    INTERVAL syntax the engine uses for band widths."""
    parts = interval.split()
    if len(parts) % 2 != 0 or not parts:
        raise ValueError(f"unsupported interval literal: {interval!r}")
    total = 0.0
    for value, unit in zip(parts[::2], parts[1::2]):
        try:
            total += float(value) * _INTERVAL_UNIT_SECONDS[unit.lower()]
        except (ValueError, KeyError):
            raise ValueError(f"unsupported interval literal: {interval!r}") from None
    if total <= 0:
        raise ValueError(f"band width must be positive: {interval!r}")
    return total


def interval_join_banded(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    upper: str = "5 minutes",
) -> DataFrame:
    """Skew-safe variant of interval_join for r.ts in [l.ts, l.ts+upper]:
    the band length is added to the equi-join key as a time bucket, so a
    hot key's rows spread over (key × bucket) shuffle partitions instead
    of landing on one reducer.

    Each left row joins buckets b and b+1 (a window of length `upper`
    spans at most two buckets of size `upper`); the exact range predicate
    filters the bucket candidates. Same result set as interval_join
    (lower=0), different physical distribution — per-reducer work is
    bounded by the per-(key, bucket) density, not the per-key total.
    """
    secs = F.expr(f"INTERVAL {upper}")
    # bucket width in seconds, parsed driver-side: a SQL-literal derivation
    # (unix_micros(TIMESTAMP '1970..' + INTERVAL ...)) would shift by the
    # session timezone's epoch offset on non-UTC sessions.
    width = repr(_interval_seconds(upper))
    l = left.withColumn(
        "_b", F.explode(F.expr(
            f"array(floor(unix_micros({left_ts}) / 1e6 / {width}),"
            f" floor(unix_micros({left_ts}) / 1e6 / {width}) + 1)"
        ))
    ).alias("l")
    r = right.withColumn(
        "_b", F.expr(f"floor(unix_micros({right_ts}) / 1e6 / {width})")
    ).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("l._b") == F.col("r._b"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + secs)
    )
    return l.join(r, cond).drop("_b")


def cross_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """J4: used by the harness to combine 1x1 metric frames."""
    return left.crossJoin(right)


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """orderBy + limit → TakeOrderedAndProject (per-partition heaps,
    single-pass reduce; no full sort shuffle)."""
    return df.orderBy(*order).limit(k)


def asof_join(
    probes: DataFrame,
    quotes: DataFrame,
    key: str,
    probe_ts: str,
    quote_ts: str,
    quote_cols: list[str],
) -> DataFrame:
    """As-of join: for each probe row, the latest quote row with the same
    key and quote_ts <= probe_ts (inner: probes with no earlier quote are
    dropped).

    Spark has no ASOF JOIN primitive; the scalable composition is the
    sorted-union carry-forward: tag both sides, union, and run one window
    pass per key ordered by (ts, side) with ``last_value(..., ignoreNulls)``
    carrying the most recent quote onto each probe row. One shuffle+sort
    on the key — linear in |probes|+|quotes|, never the quadratic
    equi-join-then-filter-then-rank shape, and no per-key blowup beyond
    the sort. Quotes order before probes at equal ts (ties inclusive,
    matching DuckDB ASOF semantics used by the oracle).

    ``quotes`` must be unique per (key, quote_ts) — pre-aggregate upstream
    to make the match deterministic.

    The carried quote is one struct column, NULL on probe rows: the row
    travels atomically, so NULL *fields* inside a quote are preserved
    (per-column carry would stitch fields from different quote rows) and
    a probe matching a quote with NULLs is still a match.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    q_struct_type = T.StructType([quotes.schema[c] for c in quote_cols])
    q = quotes.select(
        F.col(key).alias("_k"),
        F.col(quote_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in quote_cols]).alias("_q"),
        *[F.lit(None).alias(f"_p_{c}") for c in probes.columns],
    )
    p = probes.select(
        F.col(key).alias("_k"),
        F.col(probe_ts).cast(dict(quotes.dtypes)[quote_ts]).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(q_struct_type).alias("_q"),
        *[F.col(c).alias(f"_p_{c}") for c in probes.columns],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = q.unionByName(p).select(
        "_side",
        F.last(F.col("_q"), ignorenulls=True).over(w).alias("_q"),
        *[F.col(f"_p_{c}") for c in probes.columns],
    )
    out = carried.filter((F.col("_side") == 1) & F.col("_q").isNotNull())
    return out.select(
        *[F.col(f"_p_{c}").alias(c) for c in probes.columns],
        *[F.col("_q").getField(c).alias(c) for c in quote_cols],
    )


def global_row_number(
    df: DataFrame,
    order: list,
    rank_col: str = "_grn",
    total_col: str | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Distributed 1-based row_number over a TOTAL order — the parallel
    replacement for ``row_number().over(Window.orderBy(...))`` /
    ``ntile``, whose unpartitioned window funnels the whole frame into
    ONE task (Spark plans a single-partition Exchange for an empty
    PARTITION BY). Shape: ``repartitionByRange`` on the sort expressions
    (sampled bounds → parallel, spillable sort shards), per-partition
    Arrow enumerate (batches arrive in partition sort order, so a
    running counter IS the local row number), broadcast cumulative
    offsets — the zipWithIndex pattern shared with ``dataset_shuffle``
    and ``exact_percentiles_sorted``.

    ``order`` must be a total order (add a unique tiebreaker) or ranks
    of ties are partition-placement-dependent. The enumerated frame is
    localCheckpoint-ed, so follow-up aggregates over the result (totals,
    grand sums) re-read materialized partitions instead of re-running
    the upstream plan. ``total_col`` optionally attaches the overall row
    count (derived from the per-partition sizes — no extra pass).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    shards = (
        df.repartitionByRange(parts, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
    )

    def _enumerate(batches):
        n = 0
        for pdf in batches:
            pdf = pdf.assign(_local=range(n + 1, n + 1 + len(pdf)))
            n += len(pdf)
            yield pdf

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in shards.schema.fields
    )
    local = shards.mapInPandas(_enumerate, schema=fields + ", _local long")
    if checkpoint:
        # materialize once: the sizes branch and the offsets join read
        # the same partitions (the range sampler runs exactly once), and
        # follow-up totals are cheap re-reads; checkpoint=False exists so
        # plan tests can inspect the full lineage
        local = local.localCheckpoint(eager=True)
    sizes = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_sz"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "_off", F.coalesce(F.sum("_sz").over(off_w), F.lit(0)).cast("long")
    ).select("_pid", "_off")
    out = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, F.col("_off") + F.col("_local"))
        .drop("_pid", "_local", "_off")
    )
    if total_col is not None:
        total = sizes.agg(F.sum("_sz").cast("long").alias(total_col))
        out = out.crossJoin(F.broadcast(total))
    return out


def global_prefix_sum(
    df: DataFrame,
    order: list,
    value_col: str,
    cum_col: str = "_cum",
    total_col: str | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Distributed running sum over a TOTAL order — the parallel
    replacement for ``sum(v).over(Window.orderBy(...))``, whose empty
    PARTITION BY plans a single-partition Exchange (every row through
    one task). Same shape as ``global_row_number``: range-partition on
    the sort expressions, per-partition Arrow cumulative sum, broadcast
    cumulative offsets of the per-partition VALUE TOTALS. ``order`` must
    be a total order (unique tiebreaker) or prefix sums of ties are
    placement-dependent. ``total_col`` optionally attaches the grand
    total (from the same per-partition totals — no extra pass).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    shards = (
        df.repartitionByRange(parts, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
    )

    def _cumsum(batches):
        run = 0
        for pdf in batches:
            c = pdf[value_col].cumsum() + run
            run = int(c.iloc[-1]) if len(c) else run
            pdf = pdf.assign(_localcum=c)
            yield pdf

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in shards.schema.fields
    )
    local = shards.mapInPandas(_cumsum, schema=fields + ", _localcum long")
    if checkpoint:
        local = local.localCheckpoint(eager=True)
    sizes = local.groupBy("_pid").agg(F.sum(value_col).alias("_psum"))
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "_off", F.coalesce(F.sum("_psum").over(off_w), F.lit(0)).cast("long")
    ).select("_pid", "_off")
    out = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(cum_col, F.col("_off") + F.col("_localcum"))
        .drop("_pid", "_localcum", "_off")
    )
    if total_col is not None:
        total = sizes.agg(F.sum("_psum").cast("long").alias(total_col))
        out = out.crossJoin(F.broadcast(total))
    return out


def ntile_from_rank(rank, n, k: int):
    """Closed-form ntile(k) from a 1-based global rank and the total row
    count (both Columns): the first n % k buckets hold ceil(n/k) rows,
    the rest floor(n/k) — the standard SQL ntile split, so the result is
    bit-identical to ``ntile(k) OVER (ORDER BY ...)`` without the
    single-task window."""
    small = n - (n / k).cast("long") * k          # n % k  (big buckets)
    size_big = (n / k).cast("long") + 1
    size_small = (n / k).cast("long")
    cutoff = small * size_big
    return (
        F.when(rank <= cutoff, (rank - 1) / size_big)
        .otherwise(small + (rank - 1 - cutoff) / size_small)
        .cast("long")
        + 1
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_on: str,
    buckets: int = 8,
) -> DataFrame:
    """Skew-resistant fact-dim equi join for dims too big to broadcast:
    a hot join key no longer lands on one reducer.

    The fact side gets a deterministic salt (xxhash64 of ``salt_on``, a
    column unique-ish per fact row) in [0, buckets); the dim side is
    replicated ``buckets`` times with an exploded salt column; the join
    key becomes (key, salt). Each fact row matches exactly the one dim
    replica carrying its salt, so the result equals the unsalted join
    row-for-row while a hot key's fact rows spread over ``buckets``
    shuffle partitions. Cost: dim shuffle volume × buckets — size
    ``buckets`` to the observed skew, not higher.

    ``dim`` must be unique per ``key`` (as in any enrichment join).
    """
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(buckets)).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return salted_fact.join(salted_dim, [key, "_salt"]).drop("_salt")


def semi_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    return left.join(right, on, "left_anti")


def asof_join_cogrouped(
    probes: DataFrame,
    quotes: DataFrame,
    key: str,
    probe_ts: str,
    quote_ts: str,
    quote_cols: list[str],
) -> DataFrame:
    """As-of join via cogrouped applyInPandas — the Arrow twin of
    ``asof_join`` for when the per-key matching logic outgrows SQL
    (pandas merge_asof natively supports tolerance windows, nearest-
    rather-than-backward matching, multi-column by-keys).

    Both sides cogroup on the key; each key's two Arrow batches meet in
    one pandas ``merge_asof`` (backward direction = latest quote_ts <=
    probe_ts, ties inclusive — identical semantics to the sorted-union
    carry-forward and the DuckDB ASOF oracle). Unmatched probes drop
    (inner). Cost model: one shuffle per side on the key, then per-key
    Python; prefer the builtin ``asof_join`` (whole-stage codegen, no
    Python workers) unless merge_asof's extra semantics are needed —
    this operator exists to keep that escape hatch tested.

    ``quotes`` must be unique per (key, quote_ts); a key's whole row set
    must fit one Arrow batch group (bounded per-key cardinality — the
    same contract applyInPandasWithState state ops carry).
    """
    from pyspark.sql import types as T

    p_fields = list(probes.schema.fields)
    q_fields = [quotes.schema[c] for c in quote_cols]
    out_schema = T.StructType(p_fields + q_fields)
    p_cols = probes.columns

    # When probes and quotes derive from the same parent DataFrame, the
    # cogroup analyzer DEDUPLICATES attributes shared by exprId and the
    # right side silently loses them (observed: the quote_ts column
    # vanishing from the pandas input). Aliasing mints fresh attributes,
    # so every right-side column survives regardless of lineage.
    q = quotes.select(
        F.col(key),
        F.col(quote_ts).alias("__qt"),
        *[F.col(c).alias(f"__q_{c}") for c in quote_cols],
    )

    def merge(left, right):
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            # one-sided key: inner join emits nothing (empty frames can
            # arrive column-less, so build the empty result explicitly)
            return pd.DataFrame({c: [] for c in p_cols + quote_cols})
        left = left.sort_values(probe_ts, kind="mergesort")
        right = right.sort_values("__qt", kind="mergesort")
        r = right[["__qt"] + [f"__q_{c}" for c in quote_cols]].rename(
            columns={f"__q_{c}": c for c in quote_cols}
        )
        m = pd.merge_asof(
            left, r, left_on=probe_ts, right_on="__qt", direction="backward"
        )
        # unmatched probes are detected on __qt (quote_ts is never NULL
        # by contract) — NOT on a payload column: a matched quote whose
        # payload is NULL is still a match, same as the builtin asof_join
        m = m.dropna(subset=["__qt"])
        for f in q_fields:  # NaN-widened floats back to declared ints
            if f.dataType.simpleString() in ("bigint", "int"):
                # nullable Int64: a NULL int quote field survives the
                # cast (plain int64 raises on non-finite values)
                m[f.name] = m[f.name].astype("Int64")
        return m[p_cols + quote_cols]

    return (
        probes.groupBy(key)
        .cogroup(q.groupBy(key))
        .applyInPandas(merge, schema=out_schema)
    )
