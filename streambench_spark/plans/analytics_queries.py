"""Analytic-function and temporal-join registry entries: OVER-clause
ranking/lag, as-of join, and streaming dedup — capabilities a user of a
general analytics engine expects beyond the reference's own surface
(SURVEY.md §2.5 notes the reference never uses OVER-clause functions;
§2.3 notes as-of joins are absent — both are table stakes for the
"complete analytics engine" framing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streambench_spark.catalog import load_table
from streambench_spark.operators import windows as win_ops
from streambench_spark.operators.aggregates import exact_percentiles_sorted
from streambench_spark.operators.relational import asof_join
from streambench_spark.plans.queries import register


@register(
    "rank_top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rnk, total_cents
    FROM (
        SELECT o_custkey, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
    tags=["analytics", "batch"],
)
def q_rank_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVER-clause ranking: top-3 orders per customer. One shuffle on the
    partition key; per-partition sort only (no global sort)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "lag_event_deltas",
    """
    SELECT user_id, event_id,
           coalesce(epoch_ms(ts) - epoch_ms(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)), -1) AS delta_ms
    FROM events
    """,
    tags=["analytics", "batch"],
)
def q_lag_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVER-clause lag: inter-event gap per user (-1 for each user's
    first event — no NULLs so the value hash is unambiguous).
    Deterministic under ts ties via the event_id secondary sort key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.coalesce(
            F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)), F.lit(-1)
        ).alias("delta_ms"),
    )


@register(
    "asof_join_attribution",
    """
    WITH views AS (
        SELECT user_id, ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    purchases AS (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           v.view_id AS view_id,
           epoch_ms(v.ts) AS view_ts_ms
    FROM purchases p
    ASOF JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    tags=["analytics", "joins"],
)
def q_asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (attribution): each purchase matched to the same user's
    latest view at or before it (operators/relational.py:asof_join —
    sorted-union carry-forward, one shuffle, linear per key; never the
    quadratic join-then-rank shape). Oracle uses DuckDB's native ASOF
    JOIN; views are pre-aggregated per (user, ts) so the match is
    well-defined in both engines."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select("user_id", "ts", "view_id", F.unix_millis("ts").alias("view_ts_ms"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    out = asof_join(
        purchases,
        views,
        key="user_id",
        probe_ts="ts",
        quote_ts="ts",
        quote_cols=["view_id", "view_ts_ms"],
    )
    return out.select("purchase_id", "user_id", "view_id", "view_ts_ms")


@register(
    "stateful_running_counts",
    """
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
    tags=["streaming", "stateful"],
)
def q_stateful_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-(user,
    event_type) running count through GroupState, drained with
    availableNow. The emitted totals are cumulative and monotonic, so
    max(n) per key == the batch count regardless of how many
    micro-batches the replay used."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.stateful import running_counts
    from streambench_spark.streaming.ysb import run_update_to_parquet

    stream = stream_table(spark, sf_dir, "events").select("user_id", "event_type")
    counted = running_counts(
        stream, ["user_id", "event_type"],
        "user_id long, event_type string, n long",
    )
    # State is one GroupState per user (1.5k groups, not 7.5k at ~2 ms
    # each) on the drains' one state-partition policy; results depend on
    # neither.
    emitted = run_update_to_parquet(spark, counted)
    return emitted.groupBy("user_id", "event_type").agg(F.max("n").alias("n"))


@register(
    "stateful_value_stats",
    """
    SELECT user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           count(*) AS n,
           max(CAST(round(value * 100) AS BIGINT)) AS max_cents
    FROM events GROUP BY 1
    """,
    tags=["streaming", "stateful"],
)
def q_stateful_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-accumulator custom stateful operator: per-user running
    (sum_cents, count, max_cents) held in one GroupState tuple, drained
    availableNow. n is strictly increasing across a key's emissions, so
    the batch-boundary-insensitive final answer is max_by(col, n) per
    key — NOT max(col): a cumulative sum over negative values is
    non-monotonic, so max(sum_cents) would pick an intermediate
    emission."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.stateful import running_value_stats
    from streambench_spark.streaming.ysb import run_update_to_parquet

    stream = stream_table(spark, sf_dir, "events").select("user_id", "value")
    stats = running_value_stats(stream)
    emitted = run_update_to_parquet(spark, stats)
    return emitted.groupBy("user_id").agg(
        F.expr("max_by(sum_cents, n)").alias("sum_cents"),
        F.max("n").alias("n"),
        F.expr("max_by(max_cents, n)").alias("max_cents"),
    )


@register(
    "hypertable_rollup_streaming",
    """
    WITH wm AS (SELECT epoch_ms(max(ts)) - 1000 AS wm_ms FROM events),
    ev AS (SELECT ts, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
    h AS (SELECT epoch_ms(time_bucket(INTERVAL 3600 SECOND, ts)) AS bucket_ms,
                 event_type, count(*) AS n_events,
                 CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM ev GROUP BY 1, 2)
    SELECT * FROM h WHERE bucket_ms + 3600000 <= (SELECT wm_ms FROM wm)
    """,
    tags=["streaming", "rollup"],
)
def q_hypertable_rollup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous-aggregate cascade: TWO chained stateful
    window aggregations in ONE query (minute pre-aggregate → hour
    re-aggregate via window-of-window, Spark 3.5+ multi-stateful-operator
    support), append mode + watermark + parquet sink. The raw stream is
    shuffled once at minute granularity; the hour level aggregates the
    ~60x-smaller minute stream — the streaming expression of
    hypertable_rollup's batch cascade (coarser day+ levels derive batch-
    side from the materialized output, operators/windows.py). Emitted
    hours are those finalized by the closing watermark (max ts − 1 s),
    same cutoff contract as ysb_streaming_append; counts/integer-cent
    sums re-aggregate exactly, so each emitted hour is bit-identical to
    grouping raw events directly (which is what the oracle does)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    stream = stream_table(spark, sf_dir, "events").select(
        "ts", "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    m = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 minute"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("sum_cents"))
    )
    h = m.groupBy(F.window(F.col("window"), "1 hour"), "event_type").agg(
        F.sum("n_events").alias("n_events"), F.sum("sum_cents").alias("sum_cents")
    )
    out = h.select(
        F.unix_millis(F.col("window.start")).alias("bucket_ms"),
        "event_type", "n_events", "sum_cents",
    )
    return run_append_to_parquet(spark, out)


@register(
    "incremental_mv",
    """
    SELECT user_id, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY 1
    """,
    tags=["streaming", "lakehouse"],
)
def q_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view, merge-on-read: the stream's every
    micro-batch is reduced to per-user PARTIAL aggregates (count,
    sum_cents) appended to a parquet MV directory; the final answer
    re-aggregates the partials (sum of counts, sum of sums). Zero state
    store — bounded memory at any key cardinality, no watermark needed —
    the lakehouse alternative to update-mode stateful aggregation
    (contrast stateful_value_stats, which holds state per key). Cents
    derived JVM-side so the sum is integer-exact and batch-boundary
    insensitive."""
    import tempfile

    from streambench_spark.sinks.sinks import incremental_mv_sink
    from streambench_spark.sources.replay import stream_table

    stream = stream_table(spark, sf_dir, "events").select(
        "user_id", F.expr("CAST(round(value * 100) AS BIGINT)").alias("_cents")
    )
    mv_path = tempfile.mkdtemp(prefix="sb_mv_")

    def partialize(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("_cents").alias("sum_cents")
        )

    incremental_mv_sink(stream, mv_path, partialize)
    return (
        spark.read.parquet(mv_path)
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


@register(
    "wordcount_top20",
    r"""
    WITH tok AS (
        -- explicit Java whitespace class: DuckDB RE2 shorthand excludes
        -- vertical tab (U+000B), Java's includes it
        SELECT unnest(regexp_split_to_array(lower(text),
                                            '[ \t\n\x0B\f\r]+')) AS word
        FROM documents
    )
    SELECT word, count(*) AS n
    FROM tok GROUP BY word
    ORDER BY n DESC, word ASC LIMIT 20
    """,
    tags=["analytics", "text"],
)
def q_wordcount_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical tokenizing-UDTF shape (reference WordCountMapper,
    sbx/CMakeLists.txt:148-155 / SURVEY.md §2.8): explode tokens →
    grouped count → top-k. Explode emits cheap split output (not a
    computed expensive array — see dedup.shingle_postings note); the
    count is one map-side-combined shuffle; top-k is a heap reduce.

    The scan is conditionally widened first: the testdata ships one file
    (one split), which would serialize the explode; on a real lake with
    thousands of splits repartition_for_compute is a no-op."""
    from streambench_spark.catalog import repartition_for_compute
    from streambench_spark.llm.dedup import tokens_col

    docs = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@register(
    "grep_docs",
    """
    SELECT doc_id, lang FROM documents
    WHERE text LIKE '%window%' AND text LIKE '%join%'
    """,
    tags=["analytics", "text"],
)
def q_grep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GrepMapper semantics (reference SimpleMapper/GrepMapper, SURVEY.md
    §2.8): substring-predicate filter + projection, evaluated in the
    scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.col("text").contains("window") & F.col("text").contains("join")
    ).select("doc_id", "lang")


def _activity_matrix(ev: DataFrame) -> DataFrame:
    """THE wide per-user activity matrix, single-sourced so the unpivot
    entry's round-trip proof tests the same matrix the pivot entry
    registers (not a private copy that could drift). Explicit pivot
    values keep the schema static — no extra distinct-values job."""
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            F.coalesce("view", F.lit(0)).alias("n_view"),
            F.coalesce("click", F.lit(0)).alias("n_click"),
            F.coalesce("purchase", F.lit(0)).alias("n_purchase"),
        )
    )


@register(
    "pivot_user_event_matrix",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_click,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchase
    FROM events GROUP BY user_id
    """,
    tags=["analytics", "batch"],
)
def q_pivot_user_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user activity matrix (one column per event type).
    Explicit pivot values keep the schema static — required for a
    deterministic contract and the scalable form (no extra distinct-values
    job)."""
    ev = load_table(spark, sf_dir, "events")
    return _activity_matrix(ev)


@register(
    "rollup_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=["analytics", "batch"],
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total) — the
    grouping-sets surface the reference never exercises (SURVEY.md §2.4
    'not present'). One shuffle; Catalyst expands the grouping sets into
    a single aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .alias("revenue_cents"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue_cents",
            "n",
        )
    )


@register(
    "setops_viewers_not_buyers",
    """
    SELECT user_id FROM events
    WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-03'
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'
    """,
    tags=["analytics", "batch"],
)
def q_setops_viewers_not_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (EXCEPT): users who viewed but had not purchased in
    the first two days — §2.6 coverage beyond the reference ('no
    union/intersect/except anywhere'). Spark plans a left-anti hash
    aggregate; the window keeps the result non-vacuous on this corpus."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.subtract(buyers)  # EXCEPT (distinct semantics)


@register(
    "sliding_window_streaming",
    """
    WITH offsets AS (SELECT unnest([0, 1]) AS k)
    SELECT
        epoch_ms(time_bucket(INTERVAL 12 HOUR, ts) - (k * INTERVAL 12 HOUR))
            AS window_start,
        count(*) AS n
    FROM events CROSS JOIN offsets
    GROUP BY 1
    HAVING window_start > epoch_ms(TIMESTAMP '2023-12-31 12:00:00')
    """,
    tags=["streaming", "windows"],
)
def q_sliding_window_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 through Structured Streaming: sliding windows (1 day / 12 h)
    over the replayed events, complete-mode final state == the batch
    sliding-window query (same boundary exclusion as the batch entry).
    Complete mode + memory sink IS the point of this entry (the
    streaming≡batch equivalence proof) and is test-scale by nature; the
    scale-correct production shape is the append+watermark+file-sink
    family (ysb_streaming_append, hypertable_rollup_streaming)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_to_memory

    stream = stream_table(spark, sf_dir, "events")
    agg = (
        stream.groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis("w.start").alias("window_start"), "n")
    )
    _, table = run_to_memory(agg, mode="complete", available_now=True)
    cutoff_ms = 1704024000000  # 2023-12-31 12:00:00 UTC (partial first window)
    return spark.table(table).filter(F.col("window_start") > cutoff_ms)


@register(
    "session_windows_streaming",
    """
    WITH wm AS (SELECT epoch_ms(max(ts)) - 1000 AS wm_ms FROM events),
    ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
    ), marked AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ), sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           epoch_ms(min(ts)) AS session_start,
           epoch_ms(max(ts) + INTERVAL 30 MINUTE) AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    HAVING session_end <= (SELECT wm_ms FROM wm)
    """,
    tags=["streaming", "windows"],
)
def q_session_windows_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 through Structured Streaming: session windows (30 min gap) with
    watermark + append mode — the state-evicting session shape. Emitted
    sessions are those finalized by the closing watermark (session end =
    last event + gap <= max(ts) − 1 s); the oracle applies the same
    cutoff to the gaps-and-islands rewrite. Results land in a parquet
    file sink (bounded state, nothing collected to the driver)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    stream = stream_table(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("session_start"),
            F.unix_millis("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_append_to_parquet(spark, agg)


@register(
    "streaming_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=["streaming", "dedup"],
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates: first arrival per (user_id, event_type)
    through the state store, drained with availableNow — the streaming
    half of exact dedup (emitted key set == batch DISTINCT)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    stream = stream_table(spark, sf_dir, "events").select("user_id", "event_type")
    deduped = stream.dropDuplicates(["user_id", "event_type"])

    return run_append_to_parquet(spark, deduped)


@register(
    "hypertable_rollup",
    """
    WITH ev AS (
        SELECT ts, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    m AS (
        SELECT date_trunc('minute', ts) AS bucket, event_type,
               count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM ev GROUP BY 1, 2
    ),
    h AS (
        SELECT date_trunc('hour', bucket) AS bucket, event_type,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(sum_cents) AS BIGINT) AS sum_cents
        FROM m GROUP BY 1, 2
    ),
    d AS (
        SELECT date_trunc('day', bucket) AS bucket, event_type,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(sum_cents) AS BIGINT) AS sum_cents
        FROM h GROUP BY 1, 2
    )
    SELECT 'minute' AS granularity, epoch_ms(bucket) AS bucket_ms,
           event_type, n_events, sum_cents FROM m
    UNION ALL
    SELECT 'hour', epoch_ms(bucket), event_type, n_events, sum_cents FROM h
    UNION ALL
    SELECT 'day', epoch_ms(bucket), event_type, n_events, sum_cents FROM d
    """,
    tags=["analytics", "rollup"],
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: raw events bucketed
    per minute (the ONLY shuffle over raw data), then hour and day levels
    re-aggregated from the next-finer rollup — the multi-resolution
    materialization a time-series store maintains. Counts + integer-cent
    sums are exactly re-aggregable, so every level is bit-identical to
    grouping the raw table directly (which is what the oracle's cascade
    proves)."""
    from streambench_spark.operators.windows import hypertable_rollup

    ev = load_table(spark, sf_dir, "events")
    out = hypertable_rollup(
        ev,
        "ts",
        keys=["event_type"],
        count_alias="n_events",
        sum_col=F.round(F.col("value") * 100).cast("long"),
        sum_alias="sum_cents",
    )
    return out.select(
        "granularity",
        F.unix_millis(F.col("bucket")).alias("bucket_ms"),
        "event_type",
        "n_events",
        "sum_cents",
    )


@register(
    "kmv_distinct_users",
    """
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 2147483647 AS h
        FROM events
    ),
    rn AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ),
    k AS (
        SELECT event_type, count(*) AS n_kept, max(h) AS kth
        FROM rn WHERE rn <= 32 GROUP BY 1
    )
    SELECT event_type, n_kept,
           CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
                ELSE round(31.0 * 2147483647.0 / kth, 6) END AS estimate
    FROM k
    """,
    tags=["analytics", "sketch"],
)
def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-32 distinct-user sketch per event type: a deterministic,
    mergeable distinct-count sketch whose exact construction the oracle
    replicates (unlike HLL registers, which are engine-internal)."""
    from streambench_spark.operators.aggregates import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, ["event_type"], "user_id", k=32)


@register(
    "streaming_dedup_within_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=["streaming", "dedup"],
)
def q_streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup: dropDuplicatesWithinWatermark
    evicts each key's dedup state once the watermark passes its event
    time + delay — the 100 TB posture for infinite streams, where plain
    dropDuplicates' state grows forever. The 31-day delay exceeds the
    testdata's 30-day span, so nothing evicts mid-run and the emitted
    key set equals batch DISTINCT exactly (the oracle); on a production
    stream the same plan holds state only for the trailing window."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    stream = (
        stream_table(spark, sf_dir, "events")
        .select("ts", "user_id", "event_type")
        .withWatermark("ts", "31 days")
    )
    deduped = stream.dropDuplicatesWithinWatermark(["user_id", "event_type"])

    # dedup emits each key's FIRST occurrence on its data batch; the
    # trailing no-data batch only evicts expired dedup state and emits
    # nothing — skip it (r16, ~0.7 s of state-store commit cycle).
    return run_append_to_parquet(
        spark, deduped, final_no_data_batch=False
    ).select("user_id", "event_type")


@register(
    "user_state_history",
    """
    SELECT user_id, event_id, event_type,
           epoch_ms(ts) AS valid_from_ms,
           coalesce(epoch_ms(lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)), -1) AS valid_to_ms
    FROM events
    """,
    tags=["analytics", "batch"],
)
def q_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style state history: each user's events become validity
    intervals [ts, next event's ts) via lead() over (user_id; ts,
    event_id) — the change-log → type-2 dimension build of a warehouse
    ETL. One shuffle on user_id, per-partition sort only; open intervals
    carry -1 instead of NULL (NULL-free outputs compare exactly)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", "event_type",
        F.unix_millis(F.col("ts")).alias("valid_from_ms"),
        F.coalesce(
            F.unix_millis(F.lead("ts").over(w)), F.lit(-1).cast("long")
        ).alias("valid_to_ms"),
    )


@register(
    "cube_order_priority_status",
    """
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
               AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=["analytics", "rollup"],
)
def q_cube_order_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — all four grouping-set combinations
    in one pass, disambiguated by grouping_id (real NULL-valued keys
    would otherwise collide with subtotal rows; here keys are coalesced
    to a sentinel for NULL-free output). Spark expands the cube BEFORE
    the single hash aggregate, so the fact is still shuffled once with
    map-side partials — same cost shape as a plain group-by times the
    grouping-set count."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "gid", "n", "total_cents",
        )
    )


@register(
    "grouped_percentiles",
    """
    SELECT event_type,
           min(value) AS min_v,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / count(*) AS avg_v,
           round(quantile_cont(value, 0.50), 4) AS p50_v,
           round(quantile_cont(value, 0.95), 4) AS p95_v,
           max(value) AS max_v
    FROM events GROUP BY 1
    """,
    tags=["aggregates"],
)
def q_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact percentiles (the latency-report aggregate shape,
    keyed). The percentile side uses the window-sort path of
    aggregates.exact_percentiles_sorted — Spark's external sort SPILLS a
    hot group to disk where ``percentile()``'s TypedImperativeAggregate
    would buffer the group's whole value array in one executor's memory;
    rank-pick + relational interpolation replicate quantile_cont
    bit-for-bit. min/avg/max ride a plain map-side-combined aggregate;
    the two group-cardinality frames join on the key (broadcastable at
    any corpus size — output is one row per event_type)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    plain = ev.groupBy("event_type").agg(
        F.min("value").alias("min_v"),
        (F.sum(cents).cast("double") / 100.0 / F.count(F.lit(1))).alias("avg_v"),
        F.max("value").alias("max_v"),
    )
    pct = exact_percentiles_sorted(
        ev, "value", {"p50_raw": 0.50, "p95_raw": 0.95}, keys=["event_type"]
    )
    return plain.join(pct, "event_type").select(
        "event_type",
        "min_v",
        "avg_v",
        F.round(F.col("p50_raw"), 4).alias("p50_v"),
        F.round(F.col("p95_raw"), 4).alias("p95_v"),
        "max_v",
    )


@register(
    "setops_viewers_and_buyers",
    """
    SELECT user_id FROM events
    WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-03'
    INTERSECT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'
    """,
    tags=["analytics", "batch"],
)
def q_setops_viewers_and_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (INTERSECT): users who both viewed and purchased in
    the first two days — completes the §2.6 set-op family next to
    EXCEPT. Spark plans a left-semi hash aggregate over distinct keys;
    one shuffle per side on user_id."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.intersect(buyers)


@register(
    "moving_avg_value",
    """
    SELECT user_id, event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS window_sum_cents,
           count(*) OVER w AS window_n,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
                 / 100.0 / count(*) OVER w, 6) AS moving_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    tags=["analytics", "batch"],
)
def q_moving_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-frame window aggregate: trailing-5-event moving average per
    user — the window FRAME surface (rows between), distinct from the
    rank/lag whole-partition functions. One shuffle on user_id,
    per-partition sort; the frame slides locally. The average divides
    two exact integers (cents sum, row count) in one IEEE op, identical
    on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    wsum = F.sum(cents).over(w)
    wn = F.count(F.lit(1)).over(w)
    return ev.select(
        "user_id", "event_id",
        wsum.alias("window_sum_cents"),
        wn.alias("window_n"),
        F.round(wsum.cast("double") / 100.0 / wn, 6).alias("moving_avg"),
    )


@register(
    "analytic_rank_functions",
    """
    WITH t AS (
        SELECT user_id, event_type,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id, total_cents,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cdist
    FROM t
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY total_cents DESC, user_id ASC)
    """,
    tags=["analytics", "batch"],
)
def q_analytic_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank OVER functions (ntile / percent_rank /
    cume_dist) over per-(type, user) value totals. The order-by key ends
    with the unique user_id, so every row has a distinct rank position:
    ntile boundaries, percent_rank's (rank-1)/(n-1) and cume_dist's
    running fraction are all tie-free and engine-independent (the two
    divisions are single IEEE ops on identical longs, rounded to 6dp).
    One shuffle on the partition key; per-partition sort only."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("total_cents"), F.asc("user_id")
    )
    return t.select(
        "event_type", "user_id", "total_cents",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "skew_salted_enrichment",
    """
    WITH d AS (SELECT user_id, count(*) AS user_total FROM events GROUP BY 1)
    SELECT e.event_type, count(*) AS n_events,
           CAST(sum(d.user_total) AS BIGINT) AS sum_user_total
    FROM events e JOIN d ON e.user_id = d.user_id
    WHERE d.user_total >= 10
    GROUP BY 1
    """,
    tags=["analytics", "batch", "skew"],
)
def q_skew_salted_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact enrichment through the salted join (operators/relational.py:
    salted_join): events joined to per-user activity totals on
    (user_id, salt) — the oracle is the plain unsalted join, proving the
    salt+replicate rewrite is row-for-row identical. At 100 TB this is
    the shape for a non-broadcastable dim with hot keys (a power user
    with 1e8 events spreads over `buckets` reducers instead of one);
    AQE's skew-join split handles sort-merge skew between plain scans,
    but salting also covers the shuffled-hash and aggregate-fed join
    paths AQE can't re-balance — and this query IS one: the dim is an
    aggregate of events, and OptimizeSkewedJoin never matches a join
    whose child carries a final HashAggregate between the sort and the
    shuffle stage (measured r10, SCALE.md — the finding behind the
    skew_safe twins' localCheckpoint fix), so the salt is the only
    mechanism that actually spreads a hot user here."""
    from streambench_spark.operators.relational import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_total"))
    enriched = salted_join(
        ev.select("event_type", "user_id", "event_id"),
        dim, key="user_id", salt_on="event_id", buckets=8,
    )
    return (
        enriched.filter(F.col("user_total") >= 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_total").alias("sum_user_total"),
        )
    )


@register(
    "funnel_conversion",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
    tags=["analytics", "funnel"],
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view → click → purchase, strictly later
    steps only): per stage, users whose first qualifying event follows
    their previous stage's first event.

    Each stage is one keyed aggregate plus an equi-join on user_id — all
    three stages shuffle on the SAME key, so Catalyst plans one
    partitioning chain (no re-shuffle between stages); the final counts
    are three scalar aggregates cross-joined into one row. Funnels over
    100 TB keep this exact shape: everything is keyed by user."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


@register(
    "cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id,
               min(CAST(epoch_ms(ts) // 86400000 AS BIGINT)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               CAST(epoch_ms(e.ts) // 86400000 AS BIGINT) - f.cohort_day AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
    tags=["analytics", "funnel"],
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted per day-offset 0..7. Two aggregates and one join, all keyed
    on user_id, then a distinct + count on the (cohort, offset) pair —
    the standard growth-analytics rollup, fully shuffle-bounded by the
    user key and the (cohort_day, day_offset) grid."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    day = (F.unix_millis(F.col("ts")) / F.lit(86400000)).cast("long")
    with_day = ev.select("user_id", day.alias("day"))
    firsts = with_day.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        with_day.join(firsts, "user_id")
        .select(
            "user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "value_histogram",
    """
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    GROUP BY bucket
    """,
    tags=["analytics", "stats"],
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the value column (bucket = floor(v/50)):
    one map-side-combined aggregate over the scan; sums carried as exact
    integer cents so the oracle hash-matches bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.floor(F.col("value") / 50.0).cast("long").alias("bucket"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
    )


@register(
    "value_correlation",
    """
    WITH base AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x,
               CAST(user_id % 97 AS BIGINT) AS y
        FROM events
    ),
    sums AS (
        -- HUGEINT sums: overflow-free like Spark's DECIMAL(38,0) twin
        SELECT event_type,
               count(*) AS n,
               sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM base GROUP BY event_type
    )
    SELECT event_type,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS corr_xy
    FROM sums
    """,
    tags=["analytics", "stats"],
)
def q_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per event_type, computed from EXACT integer
    sums (cents × bounded key residue) with the float division applied
    once at the end — the standard trick for getting a bit-identical
    statistic out of two engines whose native corr() accumulates floats
    in different orders. One aggregate, no shuffle beyond the group key."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
        (F.col("user_id") % 97).cast("long").alias("y"),
    )
    # DECIMAL(38,0) accumulators: sum(x*x) outgrows signed-64 at ~1e10
    # rows per group (ANSI overflow error at corpus scale); decimal sums
    # stay exact to 38 digits and convert deterministically to double.
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    sums = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"), F.sum(dy).alias("sy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
        F.sum(dx * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = F.col("sxx").cast("double"), F.col("syy").cast("double"), F.col("sxy").cast("double")
    # A zero-variance group (single row, or a constant column) must yield
    # NULL like the oracle's 0/0, not an ANSI DIVIDE_BY_ZERO crash — at
    # corpus scale ONE degenerate event_type would kill the whole query
    # (found by the r13 fixture-fuzz suite; organic sf data never trips
    # it, so recorded hashes are unchanged). Cauchy-Schwarz makes the
    # numerator exactly 0 whenever either variance is 0, so NULL is the
    # only case the guard introduces.
    #
    # Why `> 0` (not `!= 0`) cannot diverge from the oracle on a
    # float-rounded tiny-NEGATIVE var2 (ADVICE r13): a negative would
    # need n·sxx - sx² < 0 in doubles while the exact value is 0. While
    # every accumulated sum is below 2^53 (cents ≤ 1e5 by the events
    # value contract, so sxx ≤ n·1e10 — exact up to ~9e5 rows per
    # group), the decimal→double conversions are exact, and then both
    # products round the SAME real number (n·sxx = sx² when variance is
    # 0) to the SAME double — the difference is exactly 0.0, never -ε.
    # Beyond 2^53 per-group sums, both engines compute the identical
    # IEEE expression, so a -ε appears on BOTH sides: Spark yields NULL
    # while the oracle's sqrt(-ε) raises — a crash-vs-NULL gap of the
    # HARNESS (DuckDB has no NULL-on-negative sqrt), in a region no
    # gate reaches; NULL is deliberately the production-safe side. The
    # autocorr/CCF twins subtract in exact long arithmetic BEFORE the
    # double cast, so their factors can never round negative at all.
    var2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    corr = F.when(var2 > 0, (n * sxy - sx * sy) / F.sqrt(var2))
    return sums.select("event_type", F.round(corr, 6).alias("corr_xy"))


@register(
    "ohlc_hourly_bars",
    """
    SELECT epoch_ms(time_bucket(INTERVAL 3600 SECOND, ts)) AS bucket_ms,
           arg_min(CAST(round(value * 100) AS BIGINT), event_id) AS open_cents,
           max(CAST(round(value * 100) AS BIGINT)) AS high_cents,
           min(CAST(round(value * 100) AS BIGINT)) AS low_cents,
           arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM events
    GROUP BY bucket_ms
    """,
    tags=["analytics", "timeseries"],
)
def q_ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars per hour — the hypertable-style financial rollup:
    open/close via min_by/max_by on the unique event_id order (DuckDB
    arg_min/arg_max), high/low/count as plain aggregates. One map-side-
    combined aggregate on the time bucket; min_by/max_by carry a single
    (value, order-key) pair per group through the shuffle, so state per
    group is O(1) at any scale."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    bucket = F.unix_millis(F.date_trunc("hour", F.col("ts")))
    return (
        ev.select(bucket.alias("bucket_ms"), cents.alias("cents"), "event_id")
        .groupBy("bucket_ms")
        .agg(
            F.min_by("cents", "event_id").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "event_id").alias("close_cents"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


@register(
    "timeseries_gapfill",
    """
    WITH bounds AS (
        SELECT CAST(epoch_ms(min(ts)) // 3600000 AS BIGINT) AS h0,
               CAST(epoch_ms(max(ts)) // 3600000 AS BIGINT) AS h1
        FROM events WHERE event_type = 'purchase'
    ),
    spine AS (
        SELECT unnest(range(h0, h1 + 1)) * 3600000 AS bucket_ms FROM bounds
    ),
    agg AS (
        SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) * 3600000 AS bucket_ms,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.bucket_ms,
           coalesce(a.n, 0) AS n,
           coalesce(a.sum_cents, 0) AS sum_cents
    FROM spine s LEFT JOIN agg a ON s.bucket_ms = a.bucket_ms
    """,
    tags=["analytics", "timeseries"],
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series: a generated hour spine (sequence over
    the observed min..max bucket) left-joined to the real aggregate, empty
    hours coalesced to zero — the standard dashboard/feature-store shape.
    The spine is one row per hour (tiny at any scale) and broadcastable;
    the aggregate side shuffles only on the hour bucket."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hour = F.expr("unix_millis(ts) DIV 3600000")
    agg = (
        ev.select(
            (hour * 3600000).alias("bucket_ms"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("bucket_ms")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
    )
    bounds = ev.agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1")).alias("h")
    ).select((F.col("h") * 3600000).alias("bucket_ms"))
    return spine.join(agg, "bucket_ms", "left").select(
        "bucket_ms",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("sum_cents", F.lit(0)).alias("sum_cents"),
    )


@register(
    "full_outer_activity",
    """
    WITH v AS (SELECT user_id, count(*) AS n_views FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT user_id, count(*) AS n_purchases FROM events
          WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT coalesce(v.user_id, p.user_id) AS user_id,
           coalesce(v.n_views, 0) AS n_views,
           coalesce(p.n_purchases, 0) AS n_purchases
    FROM v FULL OUTER JOIN p ON v.user_id = p.user_id
    """,
    tags=["analytics", "joins"],
)
def q_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage: per-user view counts ⟗ purchase counts
    with zero-coalesce on both sides. Both inputs are already aggregated
    on the join key, so the outer join reuses their hash partitioning —
    one shuffle per side, none for the join itself."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_views"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        v.join(p, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_views", F.lit(0)).alias("n_views"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        )
    )


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled scaled-integer PageRank; all-integer ops so the values
    are engine-exact (`//` floor-div == Spark DIV on non-negatives)."""
    parts = ["""
WITH e0 AS (
    SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (SELECT pa AS a, pb AS b FROM e0 UNION SELECT pb, pa FROM e0),
deg AS (SELECT a, count(*) AS deg FROM sym GROUP BY a),
r0 AS (SELECT a, CAST(1000000 AS BIGINT) AS pr FROM deg)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
c{i} AS (
    SELECT s.b AS node, sum(r.pr // d.deg) AS s
    FROM sym s JOIN r{i-1} r ON s.a = r.a JOIN deg d ON s.a = d.a
    GROUP BY s.b
),
r{i} AS (
    SELECT deg.a, CAST(150000 + 85 * coalesce(c{i}.s, 0) // 100 AS BIGINT) AS pr
    FROM deg LEFT JOIN c{i} ON deg.a = c{i}.node
)""")
    parts.append(f"\nSELECT a AS node, pr FROM r{iters}")
    return "".join(parts)


def _copurchase_edges(li: DataFrame, basket_local: bool = False) -> DataFrame:
    """THE co-purchase graph definition, single-sourced for pagerank /
    triangles / degree-distribution: distinct part pairs sharing an
    order, oriented src < dst (so the edge set is duplicate-free and
    symmetrization downstream cannot double-count). One self-join on
    l_orderkey; per-order line counts are bounded, so no hot key.

    ``basket_local=True`` swaps the self-join for the
    groupBy(l_orderkey).collect_set + row-local ordered-pair explode
    (the frequent_itempairs shape): lineitem shuffles ONCE instead of
    into both join sides. The r11 interleaved A/B at sf0.1/local[32]
    (5-rep medians) split BY CONSUMER: the edge frame alone and the
    single-pass degree_distribution are ~30% faster basket-local
    (2.49→1.66 s, 2.11→1.45 s), but BOTH iterative graph consumers are
    consistently slower with it (triangles 8.0→9.6 s, pagerank
    6.8→7.6 s — slower in 9 of 10 paired reps; the non-codegen
    ObjectHashAggregate materializing every basket array adds heap/GC
    pressure across the consumers' many downstream stages that the
    saved exchange does not buy back). So the flag defaults to the
    self-join and only the measured winner opts in.

    Above the shipped SF (SURVEY.md, Round-11 amendments: 8x
    replicated baskets = 4.8M rows, 5-rep interleaved medians): the
    itempairs pair-count core keeps winning basket-local (1.94→1.68 s,
    and −23% shuffle-write bytes, 197→152 MB — the cluster-network
    number); the degree core CROSSES (2.08 self-join vs 2.30 basket,
    +6% bytes from array-serialization overhead once partial
    collect_sets stop deduplicating much across scattered basket
    rows). The flag keeps that choice explicit per consumer instead of
    baking one answer in."""
    if not basket_local:
        return (
            li.alias("a")
            .join(li.alias("b"), F.expr(
                "a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"))
            .select(
                F.col("a.l_partkey").alias("src"),
                F.col("b.l_partkey").alias("dst"),
            )
            .distinct()
        )
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    return (
        arr.select(F.explode("items").alias("src"), "items")
        .select(
            "src",
            F.explode(F.filter("items", lambda x: x > F.col("src"))).alias("dst"),
        )
        .distinct()
    )


@register("copurchase_pagerank", _pagerank_oracle(3), tags=["analytics", "graph"])
def q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts sharing an order
    are neighbors): graph analytics straight off the relational tables.
    Scaled-integer arithmetic (operators/graph.py:pagerank_exact) keeps
    every rank value engine-exact — float PageRank diverges in the last
    bits across summation orders. Edge build is one self-join on
    l_orderkey (per-order line counts are bounded, so no hot key); each
    round is a join + aggregate shuffled on the node id."""
    from streambench_spark.operators.graph import pagerank_exact

    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li)
    # edges are distinct and oriented src < dst → the symmetrized union
    # inside pagerank_exact cannot contain duplicates; skip its re-dedup.
    # checkpoint=False (r15, guide §1.2/§5): this is a FIXED 3-round run
    # with no per-round action, so the unrolled lineage executes exactly
    # once in the final sink — the per-round localCheckpoint bought no
    # re-execution protection and cost a node-sized materialization job
    # per round (measured 27 → 18 jobs, rows identical; sym/deg stay
    # checkpointed inside pagerank_exact and are exchange-reused).
    return pagerank_exact(edges, iterations=3, edges_distinct=True,
                          checkpoint=False)


@register(
    "unpivot_activity_matrix",
    """
    WITH m AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_view,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_click,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id, 'view' AS etype, n_view AS n FROM m
    UNION ALL SELECT user_id, 'click', n_click FROM m
    UNION ALL SELECT user_id, 'purchase', n_purchase FROM m
    """,
    tags=["analytics", "batch"],
)
def q_unpivot_activity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (stack): wide activity matrix back to long form — the
    inverse of pivot_user_event_matrix, proving the round trip. stack()
    is a generator evaluated row-locally in the same stage as the pivot
    aggregate — no extra shuffle beyond the pivot's own."""
    ev = load_table(spark, sf_dir, "events")
    wide = _activity_matrix(ev)
    return wide.select(
        "user_id",
        F.expr(
            "stack(3, 'view', n_view, 'click', n_click, 'purchase', n_purchase)"
        ).alias("etype", "n"),
    )


@register(
    "chi2_independence",
    """
    WITH grid AS (
        SELECT event_type, user_id % 10 AS bucket, count(*) AS obs
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT g.*,
               sum(obs) OVER (PARTITION BY event_type) AS r,
               sum(obs) OVER (PARTITION BY bucket) AS c,
               sum(obs) OVER () AS n
        FROM grid g
    ),
    terms AS (
        SELECT event_type, bucket,
               CAST((obs * n - r * c) * (obs * n - r * c) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * r * c) AS term
        FROM tot
    )
    SELECT round(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(term ORDER BY event_type, bucket)),
               (a, x) -> a + x), 6) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT bucket) - 1) AS BIGINT) AS dof
    FROM terms
    """,
    tags=["analytics", "stats"],
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test (event_type × user-bucket): each
    cell's term is a single division of two EXACT integers
    ((obs·N − r·c)² / (N·r·c)), and the 50-cell sum is a left fold over
    the grid in sorted key order — the deterministic-float-fold pattern
    that makes a floating statistic engine-exact (unordered double sums
    differ in the last bits across partitionings). One aggregate for
    the grid, window sums for the margins, a 1-row result."""
    ev = load_table(spark, sf_dir, "events")
    grid = (
        ev.select("event_type", (F.col("user_id") % 10).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    tot = grid.select(
        "event_type", "bucket", "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("obs").over(Window.partitionBy("bucket")).alias("c"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    # exact DECIMAL(38,0) difference (obs*n outgrows signed-64 at
    # corpus scale), converted ONCE to double and squared in double —
    # squaring the decimal would outgrow even 38 digits
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    num = (dec("obs") * F.col("n") - dec("r") * F.col("c")).cast("double")
    term = (num * num) / (
        F.col("n").cast("double") * F.col("r") * F.col("c")
    )
    terms = tot.select("event_type", "bucket", term.alias("term"))
    return terms.agg(
        F.round(
            F.expr(
                "aggregate(array_sort(collect_list(struct(event_type, bucket, term))),"
                " CAST(0 AS DOUBLE), (a, x) -> a + x.term)"
            ),
            6,
        ).alias("chi2"),
        (
            (F.count_distinct(F.col("event_type")) - 1)
            * (F.count_distinct(F.col("bucket")) - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
    tags=["analytics", "sequence"],
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts over per-user event sequences (bigram of
    consecutive event types, ordered by ts with the unique event_id as
    tie-break): the user-behavior-model building block. One window
    shuffle on user_id, then a map-side-combined count on the bounded
    (prev, next) grid — sequence length never materializes anywhere."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "segment_linear_trend",
    """
    WITH base AS (
        SELECT event_type,
               (epoch_ms(ts) - 1704067200000) // 1000 AS x,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events
    ),
    sums AS (
        SELECT event_type,
               count(*) AS n,
               sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM base GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 6) AS slope_cents_per_s,
           round((CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 6) AS intercept_cents
    FROM sums
    """,
    tags=["analytics", "stats"],
)
def q_segment_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment ordinary-least-squares trend (value vs event time)
    from EXACT integer sums — the same decimal-accumulator trick as
    value_correlation, because native regr_slope() float-folds in
    engine-specific order. x is seconds since a fixed base (2024-01-01)
    so x² sums stay far inside DECIMAL(38,0) at any corpus size; the
    float division happens once per group at the end. One partial-agg
    shuffle on the group key — the canonical distributed-statistics
    shape."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("(unix_millis(ts) - 1704067200000) DIV 1000").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    dx = F.col("x").cast("decimal(38,0)")
    sums = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dx * F.col("y")).alias("sxy"),
    )
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    den = n * sxx - sx * sx
    # A group whose every event shares one timestamp (or a single-row
    # group) has zero x-variance; both numerators are exactly 0 then, so
    # the guard only introduces the oracle's 0/0 NULL instead of an ANSI
    # crash (r13 fixture-fuzz find).
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.when(den != 0, F.round((n * sxy - sx * sy) / den, 6)).alias(
            "slope_cents_per_s"
        ),
        F.when(den != 0, F.round((sy * sxx - sx * sxy) / den, 6)).alias(
            "intercept_cents"
        ),
    )


@register(
    "profile_columns",
    """
    SELECT 'o_orderkey' AS column_name, count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey),
           count(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority) FROM orders
    """,
    tags=["analytics", "profiling"],
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-observability column profile (null count + exact distinct
    count per column) in ONE pass over the table: count(col) and
    count(DISTINCT col) for all profiled columns in a single global
    aggregate — Spark plans multi-distinct aggregates with one EXPAND +
    one shuffle, not one scan per column (the naive UNION ALL the oracle
    spells out would scan 4×). Emitted long via an unpivot (stack) so the
    output is one row per column, the shape profilers and catalogs
    ingest."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(F.col(c))).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    wide = o.agg(*aggs)
    stack = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS (column_name, n_nulls, n_distinct)"
    )


@register(
    "cdc_latest_state",
    """
    SELECT user_id,
           m['ts_ms'] AS ts_ms, m['event_id'] AS event_id,
           m['cents'] AS cents
    FROM (
        SELECT user_id,
               max({'ts_ms': epoch_ms(ts), 'event_id': event_id,
                    'cents': CAST(round(value * 100) AS BIGINT)}) AS m
        FROM events GROUP BY 1
    )
    """,
    tags=["streaming", "analytics"],
)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 / changelog compaction in streaming: events as a keyed
    changelog, update-mode max of a (ts, event_id, payload) struct per
    user — the streaming UPSERT pattern. State is ONE struct per key
    (bounded by key cardinality, not stream length); emissions drain via
    foreachBatch parquet and the final per-key struct-max reduction is
    monotonic, so the result equals the batch argmax regardless of batch
    boundaries or arrival order. The (ts, event_id) prefix makes the
    ordering total — no ties, engine-independent."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_update_to_parquet

    stream = stream_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.unix_millis(F.col("ts")).alias("ts_ms"),
            F.col("event_id").alias("event_id"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).alias("chg"),
    )
    latest = stream.groupBy("user_id").agg(F.max("chg").alias("m"))
    emissions = run_update_to_parquet(spark, latest)
    return (
        emissions.groupBy("user_id")
        .agg(F.max("m").alias("m"))
        .select("user_id", "m.ts_ms", "m.event_id", "m.cents")
    )


@register(
    "mad_by_type",
    """
    WITH base AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med
        FROM base GROUP BY 1
    )
    SELECT b.event_type,
           round(any_value(m.med), 4) AS median_cents,
           round(quantile_cont(abs(b.cents - m.med), 0.5), 4) AS mad_cents
    FROM base b JOIN med m USING (event_type)
    GROUP BY 1
    """,
    tags=["analytics", "stats"],
)
def q_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics: per-group median absolute deviation. Two exact
    percentile passes, both on the distributed window-sort path (no
    per-group value-array buffering) — group medians first
    (group-cardinality output, broadcast back), then the median of
    |x − med|; both engines run the identical two-sided interpolation on
    identical sorted inputs, so round(4) hash-matches. MAD is the
    outlier-resistant scale estimate a quality pipeline uses where
    stddev would chase the tail."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    med = exact_percentiles_sorted(
        base, "cents", {"med": 0.5}, keys=["event_type"]
    )
    joined = base.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = exact_percentiles_sorted(
        joined, "dev", {"mad_raw": 0.5}, keys=["event_type"]
    )
    return med.join(mad, "event_type").select(
        "event_type",
        F.round(F.col("med"), 4).alias("median_cents"),
        F.round(F.col("mad_raw"), 4).alias("mad_cents"),
    )


_CMS_D, _CMS_W, _CMS_T = 4, 512, 70

_CMS_ORACLE = f"""
WITH probes AS (
    SELECT d,
           CAST(CAST('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || ':'
                || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                % {_CMS_W} AS INT) AS idx
    FROM events, range({_CMS_D}) r(d)
),
sketch AS (SELECT d, idx, count(*) AS cnt FROM probes GROUP BY 1, 2),
keys AS (SELECT DISTINCT user_id FROM events),
kp AS (
    SELECT user_id, d,
           CAST(CAST('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || ':'
                || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                % {_CMS_W} AS INT) AS idx
    FROM keys, range({_CMS_D}) r(d)
)
SELECT user_id, min(cnt) AS est
FROM kp JOIN sketch USING (d, idx)
GROUP BY 1 HAVING min(cnt) >= {_CMS_T}
"""


@register("cms_heavy_hitters", _CMS_ORACLE, tags=["analytics", "sketch"])
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters via a Count-Min Sketch (d=4, w=512) —
    users whose estimated event count >= 70. The sketch build is ONE
    map-side-combined aggregate whose shuffle carries at most d*w rows
    per input partition (kilobytes at 100 TB); the estimate pass probes
    the BROADCAST sketch, so no corpus-sized shuffle anywhere. The
    portable md5 row-salted hash makes the counter matrix — and hence
    every estimate, collisions included — bit-identical in the DuckDB
    oracle. CMS never undercounts, so the output is a superset of the
    exact >=70 set; mergeability (sum counters per cell) is what a
    windowed/daily rollup of sketches needs, proven in tests."""
    from streambench_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    ev = load_table(spark, sf_dir, "events")
    sketch = count_min_build(ev, "user_id", _CMS_D, _CMS_W)
    keys = ev.select("user_id").distinct()
    est = count_min_estimate(sketch, keys, "user_id", _CMS_D, _CMS_W)
    return est.filter(F.col("est") >= _CMS_T)


_EWMA_LAGS = 8  # dyadic alpha=1/2 weights: products/sums of integer cents
_EWMA_DEN = " + ".join(
    f"(CASE WHEN c{j} IS NOT NULL THEN 0.5 * pow(0.5, {j}) ELSE 0.0 END)"
    for j in range(_EWMA_LAGS)
)

_EWMA_ORACLE = f"""
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_ms(ts) // 3600000 AS BIGINT) * 3600000 AS bucket_ms,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
),
lagged AS (
    SELECT event_type, bucket_ms, cents,
           {', '.join(f'''lag(cents, {j}) OVER (
               PARTITION BY event_type ORDER BY bucket_ms) AS c{j}'''
               for j in range(_EWMA_LAGS))}
    FROM hourly
)
SELECT event_type, bucket_ms, cents,
       round(({' + '.join(
           f"(0.5 * pow(0.5, {j}) * coalesce(c{j}, 0))" for j in range(_EWMA_LAGS))})
             / ({_EWMA_DEN}), 6) AS ewma_cents
FROM lagged
"""


@register("ewma_hourly_value", _EWMA_ORACLE, tags=["analytics", "timeseries"])
def q_ewma_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over the hourly revenue
    series, per event type — trailing 8 observations, alpha = 1/2.
    Determinism by construction: integer-cent inputs x dyadic weights
    (0.5 * 0.5^j) make every product and the left-to-right sum an exact
    binary double in both engines; missing lags at series start drop out
    of the weight normalizer rather than biasing toward zero. Plan: one
    hourly aggregate, then one window partitioned on event_type —
    per-series ORDER BY only, no global sort; at 100 TB each series'
    frame is tiny and the window state is the 8 trailing rows."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (F.unix_millis(F.col("ts")) / 3600000).cast("long").alias("bh"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "bh")
        .agg(F.sum("c").alias("cents"))
        .select(
            "event_type", (F.col("bh") * 3600000).alias("bucket_ms"), "cents"
        )
    )
    w = Window.partitionBy("event_type").orderBy("bucket_ms")
    lags = hourly.select(
        "event_type", "bucket_ms", "cents",
        *[F.lag("cents", j).over(w).alias(f"c{j}") for j in range(_EWMA_LAGS)],
    )
    num = " + ".join(
        f"(0.5 * pow(0.5, {j}) * coalesce(c{j}, 0))" for j in range(_EWMA_LAGS)
    )
    return lags.select(
        "event_type", "bucket_ms", "cents",
        F.round(F.expr(f"({num}) / ({_EWMA_DEN})"), 6).alias("ewma_cents"),
    )


_AUTOCORR_ORACLE = """
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS bh,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT event_type, c AS y,
           lag(c) OVER (PARTITION BY event_type ORDER BY bh) AS x
    FROM hourly
),
sums AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM pairs WHERE x IS NOT NULL GROUP BY 1
)
SELECT event_type, n AS n_pairs,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS autocorr_lag1
FROM sums
"""


@register("value_autocorr", _AUTOCORR_ORACLE, tags=["analytics", "timeseries"])
def q_value_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the per-type hourly event-count series —
    the seasonality probe. Pearson r computed from exact BIGINT sums
    (n, Sx, Sy, Sxx, Syy, Sxy) with the float entering only in the final
    one-row-per-group division, so both engines divide identical
    integers. One hourly aggregate + one per-series lag window + one
    group aggregate; nothing global."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (F.unix_millis(F.col("ts")) / 3600000).cast("long").alias("bh"),
        )
        .groupBy("event_type", "bh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("bh")
    pairs = hourly.select(
        "event_type", F.col("c").alias("y"), F.lag("c").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    sums = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # Constant hourly counts (or a single lag pair) zero the variance
    # product; the numerator is then exactly 0 too (Cauchy-Schwarz), so
    # NULL — the oracle's 0/0 — is the only value the guard introduces.
    # Unguarded, ANSI mode crashes the whole query on one flat segment
    # (r13 fixture-fuzz find). The factors subtract in exact long
    # arithmetic before the double cast, so `> 0` cannot see a rounded
    # tiny-negative (see q_value_correlation for the family-wide note).
    _ac_var2 = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return sums.select(
        "event_type", F.col("n").alias("n_pairs"),
        F.when(
            _ac_var2 > 0,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / F.sqrt(_ac_var2),
                6,
            ),
        ).alias("autocorr_lag1"),
    )


_ANOMALY_ORACLE = """
WITH hourly AS (
    SELECT event_type,
           CAST(epoch_ms(ts) // 3600000 AS BIGINT) * 3600000 AS bucket_ms,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(c) AS s, sum(c * c) AS ss
    FROM hourly GROUP BY 1
)
SELECT h.event_type, h.bucket_ms, h.c AS cnt,
       round((h.c * t.n - t.s)
             / (t.n * sqrt(CAST(t.n * t.ss - t.s * t.s AS DOUBLE)
                           / (t.n * (t.n - 1)))), 4) AS z
FROM hourly h JOIN stats t USING (event_type)
WHERE (h.c * t.n - t.s) * (h.c * t.n - t.s) * (t.n - 1)
      > 4 * t.n * (t.n * t.ss - t.s * t.s)
"""


@register("hourly_anomalies", _ANOMALY_ORACLE, tags=["analytics", "timeseries"])
def q_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection on hourly event counts, per type: flag
    hours with |count - mean| > 2 sigma. The FLAG decision is exact
    integer arithmetic — (c*n - S)^2 * (n-1) > 4n * (n*SS - S^2) is the
    z>2 test cleared of divisions and square roots — so no float-boundary
    row can differ between engines; the reported z itself is derived from
    the same integers and only rounded for display. Per-type stats are
    group-cardinality rows broadcast back onto the hourly frame: two
    map-side-combined aggregates and a broadcast join, no corpus
    re-shuffle."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (F.unix_millis(F.col("ts")) / 3600000).cast("long").alias("bh"),
        )
        .groupBy("event_type", "bh")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type", (F.col("bh") * 3600000).alias("bucket_ms"), "c"
        )
    )
    # DECIMAL(38,0) ledger for every product: at corpus scale s ~ 1e10
    # makes s*s (and a hot hour's c*c inside the ss sum) exceed 2^63 —
    # ANSI Spark errors where DuckDB's HUGEINT sums stay exact, so the
    # exact-integer z-flag guarantee needs decimal arithmetic
    d38 = "decimal(38,0)"
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c").cast(d38) * F.col("c")).alias("ss"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    dev = F.col("c").cast(d38) * F.col("n") - F.col("s")
    var_num = F.col("n").cast(d38) * F.col("ss") - F.col("s").cast(d38) * F.col("s")
    return (
        j.filter(dev * dev * (F.col("n") - 1) > 4 * F.col("n").cast(d38) * var_num)
        .select(
            "event_type", "bucket_ms", F.col("c").alias("cnt"),
            F.round(
                dev.cast("double") / (
                    F.col("n")
                    * F.sqrt(
                        var_num.cast("double")
                        / (F.col("n") * (F.col("n") - 1))
                    )
                ),
                4,
            ).alias("z"),
        )
    )


_TRIANGLE_ORACLE = """
WITH e AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM e e1
    JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
    JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
corners AS (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY 1
"""


@register("copurchase_triangles", _TRIANGLE_ORACLE, tags=["analytics", "graph"])
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts in the co-purchase graph — the local
    clustering signal behind community detection. The Spark path
    enumerates wedges under the DEGREE-ORDERED orientation
    (operators/graph.py:triangle_counts), bounding each node's join
    fan-out by its oriented out-degree (O(sqrt(E)) even at celebrity
    nodes); the oracle enumerates the same triangle set under the plain
    id order — identical counts, orientation-independent."""
    from streambench_spark.operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li)
    return triangle_counts(edges)


@register("cms_streaming_merge", _CMS_ORACLE, tags=["analytics", "sketch", "streaming"])
def q_cms_streaming_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming proof of CMS mergeability: the events table replays as
    ~8 micro-batches (maxFilesPerTrigger=1), each batch folds into its
    OWN d x w partial sketch inside foreachBatch (a per-batch aggregate
    landing in parquet — kilobytes per batch, nothing at the driver),
    and the drained partials merge by summing counters per (d, idx).
    Sum-mergeable counters mean the merged sketch is IDENTICAL to the
    whole-table sketch, so the same heavy-hitter oracle as
    cms_heavy_hitters verifies the round trip — the daily-rollup shape
    (sketch per partition/day, merge at query time) run end-to-end."""
    import tempfile as _tf

    from streambench_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )
    from streambench_spark.sources.replay import stream_table_multifile

    stream = stream_table_multifile(spark, sf_dir, "events", n_files=8)
    path = _tf.mkdtemp(prefix="sb_cms_parts_")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        count_min_build(batch_df, "user_id", _CMS_D, _CMS_W).write.mode(
            "append"
        ).parquet(path)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", _tf.mkdtemp(prefix="sb_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("CMS streaming drain exceeded 300s")
    merged = (
        spark.read.parquet(path)
        .groupBy("d", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    keys = load_table(spark, sf_dir, "events").select("user_id").distinct()
    est = count_min_estimate(merged, keys, "user_id", _CMS_D, _CMS_W)
    return est.filter(F.col("est") >= _CMS_T)


_RFM_ORACLE = """
WITH base AS (
    SELECT user_id,
           CAST(epoch_ms(max(ts)) AS BIGINT) AS last_ms,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS monetary_cents
    FROM events GROUP BY 1
)
SELECT user_id, frequency, monetary_cents,
       CAST(ntile(4) OVER (ORDER BY last_ms DESC, user_id) AS BIGINT) AS r,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f,
       CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id) AS BIGINT) AS m
FROM base
"""


@register("rfm_segments", _RFM_ORACLE, tags=["analytics", "behavioral"])
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency / frequency /
    monetary quartiles (1 = best) over fully-deterministic orders
    (metric DESC, user_id tiebreak). One per-user aggregate, then three
    DISTRIBUTED global ranks (relational.global_row_number — an
    unpartitioned ntile window would funnel every user through one
    task) each folded to a quartile with the closed-form ntile split
    (relational.ntile_from_rank: bit-identical to ntile(4) OVER, first
    n%4 buckets one larger), joined back on user_id (three user-keyed
    equi-joins of user-cardinality frames). Monetary counts purchases
    only, in exact integer cents."""
    from streambench_spark.operators.relational import (
        global_row_number,
        ntile_from_rank,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        F.unix_millis(F.max("ts")).alias("last_ms"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("monetary_cents"),
    ).localCheckpoint(eager=True)  # three rank passes read one aggregate

    def quartile(metric: str, alias: str) -> DataFrame:
        ranked = global_row_number(
            base.select("user_id", metric),
            [F.desc(metric), F.asc("user_id")],
            rank_col="_rk",
            total_col="_n",
        )
        return ranked.select(
            "user_id",
            ntile_from_rank(F.col("_rk"), F.col("_n"), 4).alias(alias),
        )

    # The three rank passes are INDEPENDENT driver-paced job chains
    # (each global_row_number runs a range sampler + an eager
    # materialization) over the tiny checkpointed base — overlap them
    # from a thread pool so one pass's stragglers back-fill the next
    # (guide §2.6). Deterministic: each pass's total order is unchanged;
    # r16 interleaved A/B 2.63 -> 1.91 s median, rows identical.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        q_r, q_f, q_m = pool.map(
            lambda a: quartile(*a),
            [("last_ms", "r"), ("frequency", "f"), ("monetary_cents", "m")],
        )
    return (
        base.join(q_r, "user_id")
        .join(q_f, "user_id")
        .join(q_m, "user_id")
        .select("user_id", "frequency", "monetary_cents", "r", "f", "m")
    )


@register(
    "asof_join_cogrouped_attribution",
    """
    WITH ev10 AS (
        SELECT * FROM events WHERE user_id % 10 = 0
    ),
    views AS (
        SELECT user_id, ts, max(event_id) AS view_id
        FROM ev10 WHERE event_type = 'view' GROUP BY 1, 2
    ),
    purchases AS (SELECT user_id, ts, event_id FROM ev10
                  WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           v.view_id AS view_id,
           epoch_ms(v.ts) AS view_ts_ms
    FROM purchases p
    ASOF JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    tags=["analytics", "joins", "pandas"],
)
def q_asof_join_cogrouped_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of attribution join through the COGROUPED applyInPandas
    path (operators/relational.py:asof_join_cogrouped): per-user Arrow
    batches merged by pandas merge_asof. Same oracle shape as the builtin
    sorted-union twin — the two implementations must agree bit-for-bit;
    the builtin (asof_join_attribution) is the scale default and runs the
    FULL table, this one keeps the custom-per-key-logic escape hatch
    (tolerance/nearest matching) tested on a deterministic 10%-of-users
    slice: per-key Python semantics are identical at any slice, and the
    full-size run was the single most expensive query in the whole suite
    (11.8 s, 17x its builtin twin) for no extra proof value."""
    from streambench_spark.operators.relational import asof_join_cogrouped

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    # epoch-millis LONGs cross the Arrow boundary, not timestamps: the
    # per-batch timestamp/timezone conversion TRIPLES applyInPandas cost
    # (measured 6.5 s vs 2.1 s for a noop at sf0.1); merge_asof orders
    # int64 identically
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select("user_id", "view_id", F.unix_millis("ts").alias("view_ts_ms"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
    )
    out = asof_join_cogrouped(
        purchases, views,
        key="user_id", probe_ts="ts_ms", quote_ts="view_ts_ms",
        quote_cols=["view_id", "view_ts_ms"],
    )
    return out.select("purchase_id", "user_id", "view_id", "view_ts_ms")


_TTC_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS v0,
           min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS p0
    FROM events GROUP BY 1
),
deltas AS (
    SELECT p0 - v0 AS d_ms FROM firsts
    WHERE v0 IS NOT NULL AND p0 IS NOT NULL AND p0 >= v0
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       min(d_ms) AS min_ms,
       round(quantile_cont(d_ms, 0.5), 4) AS p50_ms,
       round(quantile_cont(d_ms, 0.95), 4) AS p95_ms,
       max(d_ms) AS max_ms
FROM deltas
"""


@register("funnel_time_to_convert", _TTC_ORACLE, tags=["analytics", "behavioral"])
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, first view → first
    purchase delta (only users whose first purchase follows their first
    view), reported as count/min/p50/p95/max. Deltas are exact integer
    milliseconds from conditional-min aggregates (one shuffle on
    user_id); the exact percentile interpolates identical sorted
    integers in both engines, rounded to 4dp. The companion to
    funnel_conversion's step counts — the 'how fast', not the
    'how many'."""
    ev = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", ms)).alias("v0"),
        F.min(F.when(F.col("event_type") == "purchase", ms)).alias("p0"),
    )
    deltas = firsts.filter(
        F.col("v0").isNotNull() & F.col("p0").isNotNull()
        & (F.col("p0") >= F.col("v0"))
    ).select((F.col("p0") - F.col("v0")).alias("d_ms"))
    # the delta frame is user-cardinality — still too big for one
    # executor's percentile() buffer at corpus scale; distributed sort.
    # Materialize it once: both the plain aggregate and the percentile
    # sort read these partitions instead of each re-running the full
    # events scan + user_id shuffle upstream.
    deltas = deltas.localCheckpoint(eager=True)
    plain = deltas.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("d_ms").alias("min_ms"),
        F.max("d_ms").alias("max_ms"),
    )
    pct = exact_percentiles_sorted(
        deltas, "d_ms", {"p50_raw": 0.5, "p95_raw": 0.95}
    )
    return plain.crossJoin(F.broadcast(pct)).select(
        "n_users",
        "min_ms",
        F.round(F.col("p50_raw"), 4).alias("p50_ms"),
        F.round(F.col("p95_raw"), 4).alias("p95_ms"),
        "max_ms",
    )


_BLOOM_PRUNE_ORACLE = """
SELECT e.event_id, e.user_id
FROM events e
WHERE e.user_id IN (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
"""


@register("bloom_join_prune", _BLOOM_PRUNE_ORACLE, tags=["analytics", "sketch"])
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated semi-join with EXACT semantics: the BUILDING-
    segment customer keys fold into a Bloom filter; the events fact
    probes the broadcast filter first (no false negatives — no qualifying
    row can be lost) and only the survivors — matches plus ~1% false
    positives — reach the exact broadcast semi-join that removes the FPs.
    The oracle is the plain semi-join: the sketch is a pure optimization,
    invisible in the result. At 100 TB this is the runtime-filter shape
    (Spark's own bloom runtime filter does the same inside Catalyst;
    building it explicitly makes the pruning portable to sinks/sources
    that can't accept a join, e.g. pre-filtering a Kafka drain)."""
    from streambench_spark.operators.sketches import bloom_build, bloom_probe

    ev = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    bloom = bloom_build(dim.select(F.col("user_id").alias("h")), "h", 256, 3)
    survivors = bloom_probe(
        ev.select("event_id", F.col("user_id").alias("h")), bloom, "h", 256, 3
    ).select("event_id", F.col("h").alias("user_id"))
    return survivors.join(F.broadcast(dim), "user_id", "left_semi").select(
        "event_id", "user_id"
    )


_KMV_ROLLUP_ORACLE = """
WITH hashed AS (
    SELECT DISTINCT CAST(epoch_ms(ts) // 86400000 AS BIGINT) * 86400000
               AS bucket_ms,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 2147483647 AS h
    FROM events
),
rn AS (
    SELECT bucket_ms, h,
           row_number() OVER (PARTITION BY bucket_ms ORDER BY h) AS rn
    FROM hashed
),
retained AS (SELECT bucket_ms, h FROM rn WHERE rn <= 32),
per_day AS (
    SELECT bucket_ms, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth
    FROM retained GROUP BY 1
),
merged AS (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM retained)
),
total AS (
    SELECT CAST(-1 AS BIGINT) AS bucket_ms,
           CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth
    FROM merged WHERE rn <= 32
)
SELECT bucket_ms, n_kept,
       CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
            ELSE round(31.0 * 2147483647.0 / kth, 6) END AS estimate
FROM (SELECT * FROM per_day UNION ALL SELECT * FROM total)
"""


@register("kmv_daily_rollup", _KMV_ROLLUP_ORACLE, tags=["analytics", "sketch"])
def q_kmv_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch x window composition: a KMV-32 distinct-user sketch PER DAY
    plus the MERGED whole-month sketch (bucket_ms = -1) computed from the
    daily retained sets alone — never re-touching the raw data. Union the
    retained hashes, re-take the 32 smallest, estimate: merging sketches
    is lossless for KMV, which is exactly the continuous-aggregate /
    daily-rollup contract (store 32 longs per day, answer month-distinct
    later). Raw data is scanned ONCE; every later frame is
    day-cardinality."""
    from streambench_spark.operators.aggregates import kmv_estimate, kmv_retained

    ev = load_table(spark, sf_dir, "events")
    day = (
        (F.unix_millis(F.col("ts")) / 86400000).cast("long") * 86400000
    ).alias("bucket_ms")
    # localCheckpoint: both the per-day estimates and the merged total
    # derive from this day*k-row frame — without it each branch re-runs
    # the raw scan (the UNION subtree isn't shared; seen in PLANS.md)
    retained = kmv_retained(
        ev.select(day, "user_id"), ["bucket_ms"], "user_id", 32
    ).localCheckpoint(eager=True)
    per_day = kmv_estimate(retained, ["bucket_ms"], 32)
    from pyspark.sql import Window as _W

    merged = (
        retained.select("_h").distinct()
        .withColumn("_rn", F.row_number().over(_W.orderBy("_h")))
        .filter(F.col("_rn") <= 32)
        .select(F.lit(-1).cast("long").alias("bucket_ms"), "_h")
    )
    total = kmv_estimate(merged, ["bucket_ms"], 32)
    return per_day.unionAll(total)


_MODAL_ORACLE = """
WITH c AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
),
r AS (
    SELECT event_type, cents, cnt,
           row_number() OVER (
               PARTITION BY event_type ORDER BY cnt DESC, cents ASC) AS rn
    FROM c
)
SELECT event_type, cents AS modal_cents, CAST(cnt AS BIGINT) AS n
FROM r WHERE rn = 1
"""


@register("modal_value_by_type", _MODAL_ORACLE, tags=["analytics", "stats"])
def q_modal_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode per group with a DETERMINISTIC tie-break (highest count,
    then smallest value) — Spark's builtin mode() picks an arbitrary
    winner on ties, so the portable form is count-then-rank: one
    map-side-combined aggregate on (group, value), one rank window over
    the value-cardinality counts frame."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("cents"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("cents").alias("modal_cents"), F.col("cnt").alias("n"))
    )


_EQUIDEPTH_ORACLE = """
WITH c AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS cnt
    FROM events GROUP BY 1
),
cum AS (
    SELECT cents, cnt,
           sum(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER () AS n
    FROM c
),
b AS (
    SELECT min(CASE WHEN cum >= CAST(ceil(0.25 * n) AS BIGINT) THEN cents END) AS b1,
           min(CASE WHEN cum >= CAST(ceil(0.50 * n) AS BIGINT) THEN cents END) AS b2,
           min(CASE WHEN cum >= CAST(ceil(0.75 * n) AS BIGINT) THEN cents END) AS b3
    FROM cum
)
SELECT CAST(1 + CAST(cents > b1 AS INT) + CAST(cents > b2 AS INT)
            + CAST(cents > b3 AS INT) AS BIGINT) AS bucket,
       CAST(sum(cnt) AS BIGINT) AS n,
       min(cents) AS lo_cents, max(cents) AS hi_cents
FROM c CROSS JOIN b
GROUP BY 1
"""


@register("equidepth_histogram", _EQUIDEPTH_ORACLE, tags=["analytics", "stats"])
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH (quartile-boundary) histogram of the value column,
    integer-exact end to end: boundaries are DISCRETE percentiles (the
    smallest cents whose cumulative count reaches ceil(p*n)) computed
    from a value-cardinality counts frame — no float interpolation, so
    no boundary can drift between engines. The cumulative window runs
    over distinct VALUES (domain-bounded), not rows, and the three
    boundaries broadcast back onto the counts frame: the raw table is
    scanned once."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select(F.round(F.col("value") * 100).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = c.select(
        "cents", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    b = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(p) * F.col("n")).cast("long"),
                    F.col("cents"),
                )
            ).alias(f"b{i}")
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    bucket = (
        F.lit(1)
        + (F.col("cents") > F.col("b1")).cast("int")
        + (F.col("cents") > F.col("b2")).cast("int")
        + (F.col("cents") > F.col("b3")).cast("int")
    ).cast("long")
    return (
        c.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.sum("cnt").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


_PATHS_ORACLE = """
WITH seq AS (
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>')
               AS path
    FROM events GROUP BY user_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM seq GROUP BY 1
ORDER BY n_users DESC, path ASC LIMIT 10
"""


@register("top_event_paths", _PATHS_ORACLE, tags=["analytics", "behavioral"])
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: each user's first five events (deterministic
    (ts, event_id) order) joined into a '>'-path, ranked by frequency —
    the entry-journey report behind funnel design. One per-user
    collect (state = 5 strings per user after the slice), one
    path-cardinality count, global TopK. The sorted collect_list rides
    the same user_id shuffle the aggregate needs anyway."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "array_join(slice(transform(array_sort("
                "collect_list(struct(ts, event_id, event_type))), "
                "x -> x.event_type), 1, 5), '>')"
            ).alias("path")
        )
    )
    return (
        seq.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(10)
    )


_VALIDATE_ORACLE = """
SELECT 'null_user' AS rule,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
FROM events
UNION ALL
SELECT 'value_out_of_range',
       CAST(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'unknown_event_type',
       CAST(sum(CASE WHEN event_type NOT IN
                ('view', 'click', 'purchase', 'signup', 'error')
                THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'orphan_user_fk', CAST(count(*) AS BIGINT)
FROM events e WHERE NOT EXISTS (
    SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id
)
"""


@register("validate_events", _VALIDATE_ORACLE, tags=["analytics", "quality"])
def q_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation audit: per-rule violation counts — null
    keys, range bounds, enum membership, and referential integrity
    (events.user_id ⊆ customer.c_custkey via LEFT ANTI join). The three
    row-local rules fold into ONE scan (conditional sums in a single
    aggregate would also work; kept as a union of independent rules so
    rules can be added/removed compositionally); the FK rule is an
    anti-join against the broadcast dim — the only rule that needs a
    second table, still no fact shuffle."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )

    def rule(name: str, cond):
        return ev.agg(
            F.sum(cond.cast("long")).alias("n_bad")
        ).select(F.lit(name).alias("rule"), "n_bad")

    r1 = rule("null_user", F.col("user_id").isNull())
    r2 = rule("value_out_of_range", (F.col("value") < 0) | (F.col("value") > 1000))
    r3 = rule(
        "unknown_event_type",
        ~F.col("event_type").isin("view", "click", "purchase", "signup", "error"),
    )
    r4 = (
        ev.join(F.broadcast(cust), "user_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_bad"))
        .select(F.lit("orphan_user_fk").alias("rule"), "n_bad")
    )
    return r1.unionAll(r2).unionAll(r3).unionAll(r4)


_SHARE_ORACLE = """
WITH t AS (
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1
)
SELECT event_type, cents,
       round(CAST(cents AS DOUBLE) / (SELECT sum(cents) FROM t), 6) AS share
FROM t
"""


@register("revenue_share_by_type", _SHARE_ORACLE, tags=["analytics", "stats"])
def q_revenue_share_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution per event type: exact integer-cent
    numerators and denominator (the single float division happens on
    final group rows). The window-over-() total runs on the
    group-cardinality frame, not the fact."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.groupBy("event_type").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    )
    # An all-zero-revenue corpus zeroes the grand total; every numerator
    # is 0 then too, so the guard only introduces the oracle's 0/0 NULL
    # instead of an ANSI crash (r13 fixture-fuzz find).
    _total = F.sum("cents").over(Window.partitionBy())
    return t.select(
        "event_type", "cents",
        F.when(
            _total != 0,
            F.round(F.col("cents").cast("double") / _total, 6),
        ).alias("share"),
    )


_HSKETCH_ORACLE = """
WITH bins AS (
    SELECT CAST(round(value * 100) AS BIGINT) // 160 AS bin,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
),
cum AS (
    SELECT bin, cnt,
           sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER () AS n
    FROM bins
),
ps AS (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS p),
hit AS (
    SELECT p, min(bin) AS bin
    FROM ps JOIN cum ON cum.cum >= CAST(ceil(p * cum.n) AS BIGINT)
    GROUP BY 1
)
SELECT h.p,
       round(h.bin * 160 + 160.0
             * (CAST(ceil(h.p * c.n) AS BIGINT) - (c.cum - c.cnt)) / c.cnt,
             4) AS est_cents
FROM hit h JOIN cum c ON c.bin = h.bin
"""


@register("histogram_sketch_quantiles", _HSKETCH_ORACLE, tags=["analytics", "sketch"])
def q_histogram_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a MERGEABLE fixed-bin histogram sketch:
    64 equal-width bins of the cents domain (sum-mergeable across
    partitions/days like the CMS), p50/p95/p99 interpolated inside the
    target bin from exact integer (cum, cnt, n). The oracle-checkable
    complement to percentile_approx (whose internal sketch is
    engine-private): accuracy is bounded by bin width, determinism is
    total. Bin frame is domain-bounded (64 rows), so every post-scan
    stage is O(bins), one corpus aggregate total."""
    ev = load_table(spark, sf_dir, "events")
    bins = (
        ev.select(
            # floor, not divide-then-cast: the cast truncates toward
            # zero, but the oracle's // floors — they differ for
            # negative cents (bin 0 vs bin -1)
            F.floor(F.round(F.col("value") * 100).cast("long") / 160)
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    ps = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("p")
    )
    hit = (
        ps.join(
            cum,
            F.col("cum") >= F.ceil(F.col("p") * F.col("n")).cast("long"),
        )
        .groupBy("p")
        .agg(F.min("bin").alias("bin"))
    )
    return (
        hit.join(cum, "bin")
        .select(
            "p",
            F.round(
                F.col("bin") * 160
                + 160.0
                * (
                    F.ceil(F.col("p") * F.col("n")).cast("long")
                    - (F.col("cum") - F.col("cnt"))
                )
                / F.col("cnt"),
                4,
            ).alias("est_cents"),
        )
    )


_CI_ORACLE = """
WITH seg AS (
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS k
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
)
SELECT segment, n, k,
       round(CAST(k AS DOUBLE) / n, 6) AS rate,
       round((k + 1.9208) / (n + 3.8416)
             - 1.96 * sqrt((CAST(k AS DOUBLE) * (n - k)) / n + 0.9604)
               / (n + 3.8416), 6) AS ci_lo,
       round((k + 1.9208) / (n + 3.8416)
             + 1.96 * sqrt((CAST(k AS DOUBLE) * (n - k)) / n + 0.9604)
               / (n + 3.8416), 6) AS ci_hi
FROM seg
"""


@register("conversion_rate_ci", _CI_ORACLE, tags=["analytics", "stats"])
def q_conversion_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment purchase-rate with a 95% Wilson score interval — the
    A/B-readout statistic that stays sane at small n where the normal
    approximation lies. Numerators/denominators are exact integers from
    one broadcast-dim join + one aggregate; the interval formula
    (z=1.96; 1.9208 = z²/2, 3.8416 = z², 0.9604 = z²/4) runs on
    group-cardinality rows only, identical literals both engines."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    seg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("k"),
        )
    )
    center = (F.col("k") + 1.9208) / (F.col("n") + 3.8416)
    half = (
        F.lit(1.96)
        * F.sqrt(
            (F.col("k").cast("double") * (F.col("n") - F.col("k"))) / F.col("n")
            + 0.9604
        )
        / (F.col("n") + 3.8416)
    )
    return seg.select(
        "segment", "n", "k",
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias("rate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )


_CMS_JOINSIZE_ORACLE = f"""
WITH probes AS (
    SELECT d,
           CAST(CAST('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || ':'
                || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                % {_CMS_W} AS INT) AS idx
    FROM events, range({_CMS_D}) r(d)
),
sketch AS (SELECT d, idx, count(*) AS cnt FROM probes GROUP BY 1, 2),
inner_est AS (
    SELECT min(s) AS est FROM (
        SELECT d, sum(cnt * cnt) AS s FROM sketch GROUP BY 1
    )
),
exact AS (
    SELECT sum(c * c) AS ex FROM (
        SELECT count(*) AS c FROM events GROUP BY user_id
    )
)
SELECT CAST(est AS BIGINT) AS est_join_size,
       CAST(ex AS BIGINT) AS exact_join_size
FROM inner_est CROSS JOIN exact
"""


@register("cms_join_size_estimate", _CMS_JOINSIZE_ORACLE, tags=["analytics", "sketch"])
def q_cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation by sketch algebra: |R ⋈_k R| equals
    Σ_k cnt(k)², and the CMS INNER PRODUCT (min over rows of Σ_w
    cnt[w]²) upper-bounds it without touching per-key state — the
    AMS/CMS estimate a cost-based optimizer uses to pick join strategy
    BEFORE running the join. Both the estimate (d sums over the d×w
    sketch) and the exact check are emitted side by side; est >= exact
    always (collision terms only add). Sketch build is the usual single
    map-side-combined aggregate; everything after is O(sketch)."""
    from streambench_spark.operators.sketches import count_min_build

    ev = load_table(spark, sf_dir, "events")
    sketch = count_min_build(ev, "user_id", _CMS_D, _CMS_W)
    # squares in DECIMAL(38,0): a single hot key with >= ~3e9 events
    # makes c*c exceed 2^63 per row (ANSI error / wraparound) while the
    # oracle's HUGEINT sums survive; output stays BIGINT-typed
    est = (
        sketch.groupBy("d")
        .agg(F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt")).alias("s"))
        .agg(F.min("s").cast("long").alias("est_join_size"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("long")
            .alias("exact_join_size")
        )
    )
    return est.crossJoin(exact)


_ITEMPAIRS_ORACLE = """
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
item_cnt AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY 1
),
pair_cnt AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS cab
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)
SELECT pa, pb, cab,
       round(CAST(cab AS DOUBLE) / n.n, 6) AS support,
       round(CAST(cab AS DOUBLE) / ia.c, 6) AS confidence,
       round(CAST(cab AS DOUBLE) * n.n / (CAST(ia.c AS DOUBLE) * ib.c), 6)
           AS lift
FROM pair_cnt
JOIN item_cnt ia ON ia.l_partkey = pa
JOIN item_cnt ib ON ib.l_partkey = pb
CROSS JOIN n_orders n
WHERE cab >= 2
"""


@register("frequent_itempairs", _ITEMPAIRS_ORACLE, tags=["analytics", "mining"])
def q_frequent_itempairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: co-purchased part
    pairs with support, confidence (pa→pb), and lift from exact integer
    counts (floats only in the final per-pair divisions).

    Pair expansion is BASKET-LOCAL (r11 rewrite): one
    groupBy(l_orderkey).collect_set shuffles the corpus ONCE (partial
    collect_sets merge map-side), then ordered pairs explode row-locally
    from each sorted basket array — where the previous self-join
    re-shuffled the distinct'd baskets into both join sides and paid the
    pair blowup through the join. Basket width is bounded (order line
    counts are small), so the per-row quadratic expansion is a constant;
    item counts and the basket total reuse the SAME aggregated frame
    (runtime exchange reuse), never rescanning the corpus shuffled.
    Measured sf0.1/local[32] best-of-3: 1.47 s (self-join) → 1.17 s;
    output verified identical row-for-row. Min-support pruning
    (cab >= 2) happens at the pair aggregate — at 100 TB the a-priori
    trick filters the basket arrays against frequent items first so only
    items above support enter the expansion."""
    li = load_table(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    n = arr.agg(F.count(F.lit(1)).alias("n"))
    item_cnt = (
        arr.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair_cnt = (
        arr.select(F.explode("items").alias("pa"), "items")
        .select(
            "pa",
            F.explode(F.filter("items", lambda x: x > F.col("pa"))).alias("pb"),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= 2)
    )
    ia = item_cnt.select(F.col("l_partkey").alias("pa"), F.col("c").alias("ca"))
    ib = item_cnt.select(F.col("l_partkey").alias("pb"), F.col("c").alias("cb"))
    return (
        pair_cnt.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa", "pb", "cab",
            F.round(F.col("cab").cast("double") / F.col("n"), 6).alias("support"),
            F.round(F.col("cab").cast("double") / F.col("ca"), 6).alias("confidence"),
            F.round(
                F.col("cab").cast("double") * F.col("n")
                / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


_GINI_ORACLE = """
WITH c AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1
),
r AS (
    SELECT cnt,
           row_number() OVER (ORDER BY cnt ASC, user_id ASC) AS rk,
           count(*) OVER () AS n,
           sum(cnt) OVER () AS tot
    FROM c
)
SELECT CAST(any_value(n) AS BIGINT) AS n_users,
       CAST(any_value(tot) AS BIGINT) AS n_events,
       round(CAST(2 * sum(rk * cnt) - (any_value(n) + 1) * any_value(tot)
                  AS DOUBLE)
             / (any_value(n) * any_value(tot)), 6) AS gini
FROM r
"""


@register("activity_gini", _GINI_ORACLE, tags=["analytics", "stats"])
def q_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic: Gini coefficient of per-user event counts via
    the rank formula G = (2·Σ r_i·c_i − (n+1)·Σc) / (n·Σc) — exact
    integers until the single final division. 0 = uniform load, →1 =
    one celebrity user; the number an operator reads before deciding
    whether a key needs salting. The global rank runs DISTRIBUTED
    (relational.global_row_number: range-partitioned parallel sort +
    Arrow enumerate) over the user-cardinality counts frame — an
    unpartitioned row_number window would funnel every user through one
    task; the grand totals come from a cheap re-read of the enumerated
    checkpoint, not a second pass over events."""
    from streambench_spark.operators.relational import global_row_number

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = global_row_number(
        c, [F.asc("cnt"), F.asc("user_id")], rank_col="rk", total_col="n"
    )
    tot = ranked.agg(F.sum("cnt").alias("tot"))
    r = ranked.crossJoin(F.broadcast(tot))
    # DECIMAL(38,0) ledger: Σ rk·cnt ~ n·E overflows BIGINT at corpus
    # scale (n=1e8 users × 1e3 events → 1e19 > 2^63, ANSI error) while
    # DuckDB's HUGEINT sum survives — the same decimal-sum convention
    # the correlation/chi2 ledgers use
    big = "CAST(rk AS DECIMAL(38, 0)) * CAST(cnt AS DECIMAL(38, 0))"
    return r.agg(
        F.any_value("n").cast("long").alias("n_users"),
        F.any_value("tot").cast("long").alias("n_events"),
        F.round(
            (
                2 * F.sum(F.expr(big))
                - (F.any_value("n") + 1).cast("decimal(38,0)")
                * F.any_value("tot").cast("decimal(38,0)")
            ).cast("double")
            / (
                F.any_value("n").cast("decimal(38,0)")
                * F.any_value("tot").cast("decimal(38,0)")
            ).cast("double"),
            6,
        ).alias("gini"),
    )


_NULLSEM_ORACLE = """
WITH base AS (
    SELECT user_id, event_type,
           CASE WHEN value < 5.0 THEN NULL
                ELSE CAST(round(value * 100) AS BIGINT) END AS cents
    FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(cents) AS BIGINT) AS n_nonnull,
       CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_nonnull,
       CAST(count(DISTINCT cents) AS BIGINT) AS n_distinct_nonnull,
       CAST(sum(CASE WHEN cents IS NOT DISTINCT FROM NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq_null
FROM base GROUP BY 1
"""


@register("null_semantics_audit", _NULLSEM_ORACLE, tags=["analytics", "semantics"])
def q_null_semantics_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NULL semantics pinned per group on a synthesized nullable
    column: count(*) counts rows, count(col) skips NULLs, SUM ignores
    them (coalesced to 0 for a NULL-free output), DISTINCT excludes the
    NULL, and the null-safe comparator (<=> / IS NOT DISTINCT FROM)
    treats NULL = NULL as TRUE — the exact aggregate/NULL interactions
    both engines must (and do) agree on. One scan, one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.when(F.col("value") < 5.0, F.lit(None))
        .otherwise(F.round(F.col("value") * 100).cast("long"))
        .alias("cents"),
    )
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("cents").alias("n_nonnull"),
        F.sum(F.col("cents").isNull().cast("long")).alias("n_null"),
        F.coalesce(F.sum("cents"), F.lit(0)).alias("sum_nonnull"),
        F.count_distinct("cents").alias("n_distinct_nonnull"),
        F.sum(F.expr("CAST(cents <=> NULL AS LONG)")).alias("n_nullsafe_eq_null"),
    )


_MAPAGG_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT user_id,
       '{' || string_agg('"' || event_type || '":' || n, ','
                         ORDER BY event_type) || '}' AS type_counts_json
FROM c GROUP BY 1
"""


@register("user_activity_map", _MAPAGG_ORACLE, tags=["analytics", "types"])
def q_user_activity_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType aggregation: each user's event_type → count as one MAP
    column (map_from_entries over the key-sorted collected pairs),
    emitted as canonical JSON for the comparator (map equality isn't
    order-defined across engines). The per-user map is the feature-store
    row shape — bounded by the type domain, built on the same user_id
    shuffle the counts need anyway."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    return m.select(
        "user_id",
        F.to_json(F.col("type_counts")).alias("type_counts_json"),
    )


_BENFORD_ORACLE = """
WITH d AS (
    SELECT CAST(substring(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
                          1, 1) AS BIGINT) AS digit
    FROM events WHERE value >= 0.01
),
obs AS (
    SELECT digit, CAST(count(*) AS BIGINT) AS n, sum(count(*)) OVER () AS tot
    FROM d GROUP BY 1
)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / tot, 6) AS observed_p,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_p
FROM obs WHERE digit BETWEEN 1 AND 9
"""


@register("benford_digit_test", _BENFORD_ORACLE, tags=["analytics", "quality"])
def q_benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screening of the value column: observed leading-
    digit frequencies beside the log10(1 + 1/d) expectation — the
    classic fabricated-data detector for financial columns. Digit
    extraction is a row-local string op on exact integer cents; the
    output frame is 9 rows from one aggregate. (Synthetic uniform data
    deliberately does NOT follow Benford — the point is the comparison
    columns, which an auditor thresholds.)"""
    ev = load_table(spark, sf_dir, "events")
    d = ev.filter(F.col("value") >= 0.01).select(
        F.substring(
            F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy()
    return (
        obs.filter(F.col("digit").between(1, 9))
        .select(
            "digit", "n",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(tot), 6
            ).alias("observed_p"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
        )
    )


_GSETS_ORACLE = """
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("grouping_sets_revenue", _GSETS_ORACLE, tags=["analytics", "rollup"])
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the a-la-carte sibling of rollup/cube:
    exactly the (status), (priority), and grand-total groupings in ONE
    pass (Expand feeds a single hash aggregate), skipping the (status,
    priority) cross cube would also compute. grouping_id disambiguates
    subtotal rows from real NULL keys; keys coalesce to a sentinel for
    NULL-free output."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select("o_orderstatus", "o_orderpriority", cents.alias("cents"))
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.expr(
                "CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)"
                " AS BIGINT)"
            ).alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("total_cents"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
            "gid", "n", "total_cents",
        )
    )


_TWAP_ORACLE = """
WITH seq AS (
    SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
           epoch_ms(ts) AS ts_ms,
           lead(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_ms
    FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(next_ms - ts_ms) AS BIGINT) AS total_ms,
       round(CAST(sum(cents * (next_ms - ts_ms)) AS DOUBLE)
             / sum(next_ms - ts_ms), 6) AS twap_cents
FROM seq WHERE next_ms IS NOT NULL
GROUP BY 1
"""


@register("twap_value_per_user", _TWAP_ORACLE, tags=["analytics", "timeseries"])
def q_twap_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each observation
    holds until the next one, weighted by its holding interval — the
    financial/metering aggregate a plain AVG gets wrong under irregular
    sampling. Weights and values are exact integers (ms x cents fits
    BIGINT comfortably); the one float is the final per-user division.
    One lead() window and one aggregate, both on the user_id shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_millis("ts").alias("ts_ms"),
        F.lead(F.unix_millis("ts")).over(w).alias("next_ms"),
    ).filter(F.col("next_ms").isNotNull())
    dt = F.col("next_ms") - F.col("ts_ms")
    # Every interval zero-width (all of a user's events on one
    # timestamp) zeroes the weight sum; the weighted numerator is 0
    # then too, so the guard only introduces the oracle's 0/0 NULL
    # instead of an ANSI crash (r13 fixture-fuzz find).
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(dt).alias("total_ms"),
        F.when(
            F.sum(dt) != 0,
            F.round(F.sum(F.col("cents") * dt).cast("double") / F.sum(dt), 6),
        ).alias("twap_cents"),
    )


_RANGE_FRAME_ORACLE = """
SELECT event_id, user_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts)
           RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS trailing_hour_cents,
       first_value(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS first_type,
       coalesce(nth_value(event_type, 2) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), '<none>')
           AS second_type,
       last_value(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_type
FROM events
"""


@register("range_frame_analytics", _RANGE_FRAME_ORACLE, tags=["analytics", "windows"])
def q_range_frame_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVER-clause frame breadth: a VALUE-RANGE frame (each event's
    trailing-hour revenue — the frame is defined by the ms timestamp
    distance, not a row count) beside first_value / nth_value /
    last_value positional functions with their frame pitfalls spelled
    out (last_value needs the full-partition frame or it degenerates to
    CURRENT ROW; nth_value is null until the frame holds n rows,
    coalesced to a sentinel). One user_id shuffle serves all four
    windows."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wr = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_millis("ts"))
        .rangeBetween(-3600000, 0)
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wcur = wo.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id", "user_id",
        F.sum(cents).over(wr).alias("trailing_hour_cents"),
        F.first("event_type").over(wo).alias("first_type"),
        F.coalesce(
            F.nth_value("event_type", 2).over(wcur), F.lit("<none>")
        ).alias("second_type"),
        F.last("event_type").over(wfull).alias("last_type"),
    )


_INTERARRIVAL_ORACLE = """
WITH d AS (
    SELECT epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS dt
    FROM events
)
SELECT CAST(floor(log2(dt)) AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(dt) AS min_ms, max(dt) AS max_ms
FROM d WHERE dt IS NOT NULL AND dt > 0
GROUP BY 1
"""


@register("interarrival_histogram", _INTERARRIVAL_ORACLE, tags=["analytics", "timeseries"])
def q_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed inter-arrival-time distribution per user stream —
    the burstiness profile (an exponential process fills adjacent
    buckets geometrically; spikes reveal batch replays). Bucket
    boundaries are exact powers of two, where log2 of an exact-integer
    power is exact in both engines, so no boundary flip is possible;
    zero deltas (same-ms events) are excluded as unbucketable."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias("dt")
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return d.groupBy(
        F.floor(F.log2("dt")).cast("long").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("dt").alias("min_ms"),
        F.max("dt").alias("max_ms"),
    )


_MOMENTS_ORACLE = """
WITH base AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
    FROM events WHERE value >= 0.01
),
s AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(c) AS s1,
           CAST(sum(CAST(c * c AS DECIMAL(38, 0))) AS DOUBLE) AS s2,
           CAST(sum(CAST(c * c * c AS DECIMAL(38, 0))) AS DOUBLE) AS s3,
           CAST(sum(CAST(c * c AS DECIMAL(19, 0)) * (c * c)) AS DOUBLE)
               AS s4,
           CAST(sum(CAST(round(ln(CAST(c AS DOUBLE)), 12)
                         AS DECIMAL(30, 12))) AS DOUBLE) AS sln,
           CAST(sum(CAST(round(1.0 / c, 15) AS DECIMAL(30, 15)))
                AS DOUBLE) AS sinv
    FROM base GROUP BY 1
)
SELECT event_type, n,
       round(CAST(s1 AS DOUBLE) / n, 4) AS mean_cents,
       round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 4)
           AS var_cents,
       round((CAST(s3 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
              + 2.0 * pow(CAST(s1 AS DOUBLE) / n, 3))
             / pow((CAST(s2 AS DOUBLE) / n)
                   - pow(CAST(s1 AS DOUBLE) / n, 2), 1.5), 6) + 0.0
           AS skewness,
       round((s4 / n
              - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
              + 6.0 * pow(CAST(s1 AS DOUBLE) / n, 2) * (CAST(s2 AS DOUBLE) / n)
              - 3.0 * pow(CAST(s1 AS DOUBLE) / n, 4))
             / pow((CAST(s2 AS DOUBLE) / n)
                   - pow(CAST(s1 AS DOUBLE) / n, 2), 2) - 3.0, 6) + 0.0
           AS excess_kurtosis,
       round(exp(sln / n), 4) AS geo_mean_cents,
       round(n / sinv, 4) AS harm_mean_cents
FROM s
"""


@register("moments_by_type", _MOMENTS_ORACLE, tags=["analytics", "stats"])
def q_moments_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment descriptive statistics per group: mean, sample
    variance, skewness, excess kurtosis from EXACT integer power sums
    (S1..S3 exact BIGINT; S4's per-row c^4 is still exact BIGINT but the
    cross-row total would overflow, so it sums as DECIMAL(38,0) — exact
    and order-independent like every other ledger sum), plus
    geometric and harmonic means whose log/reciprocal sums ride the
    decimal ledger. Population-moment formulas, matching what the raw
    sums define rather than any engine builtin (Spark's skewness() and
    DuckDB's disagree on bias correction — computing from sums
    sidesteps the whole question). One aggregate pass."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value") >= 0.01).select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    c = F.col("c")
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("s1"),
        # power sums accumulate as DECIMAL: at sf0.1 max cents is 56021,
        # so c^4 overflows BIGINT per-row (bound 55108) and even sum(c^3)
        # overflows across 1e5 rows; c^2 stays exact per row, and
        # decimal(19,0) * bigint keeps c^4 exact inside decimal space
        F.sum(F.expr("CAST(c * c AS DECIMAL(38, 0))")).cast("double").alias("s2"),
        F.sum(F.expr("CAST(c * c * c AS DECIMAL(38, 0))")).cast("double").alias("s3"),
        F.sum(F.expr("CAST(c * c AS DECIMAL(19, 0)) * (c * c)"))
        .cast("double")
        .alias("s4"),
        F.sum(
            F.expr("CAST(round(ln(CAST(c AS DOUBLE)), 12) AS DECIMAL(30, 12))")
        ).cast("double").alias("sln"),
        F.sum(
            F.expr("CAST(round(1.0 / c, 15) AS DECIMAL(30, 15))")
        ).cast("double").alias("sinv"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    m4 = F.col("s4") / n
    var_pop = m2 - m1 * m1
    # Degenerate groups — a single row (n-1 == 0) or a constant column
    # (var_pop == 0) — must yield the oracle's x/0 NULLs, not an ANSI
    # crash (r13 fixture-fuzz find). `!= 0` (not `> 0`) so a float-
    # rounded tiny-negative variance still flows into pow() and lands
    # on the same NaN in both engines.
    return s.select(
        "event_type", "n",
        F.round(m1, 4).alias("mean_cents"),
        F.when(
            n > 1,
            F.round(
                (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / n)
                / (n - 1),
                4,
            ),
        ).alias("var_cents"),
        (F.when(
            var_pop != 0,
            F.round(
                (m3 - 3.0 * m1 * m2 + 2.0 * F.pow(m1, 3)) / F.pow(var_pop, 1.5),
                6,
            ),
        ) + F.lit(0.0)).alias("skewness"),
        (F.when(
            var_pop != 0,
            F.round(
                (m4 - 4.0 * m1 * m3 + 6.0 * F.pow(m1, 2) * m2
                 - 3.0 * F.pow(m1, 4))
                / F.pow(var_pop, 2)
                - 3.0,
                6,
            ),
        ) + F.lit(0.0)).alias("excess_kurtosis"),
        F.round(F.exp(F.col("sln") / n), 4).alias("geo_mean_cents"),
        F.round(n / F.col("sinv"), 4).alias("harm_mean_cents"),
    )


_CDC_DELETES_ORACLE = """
WITH latest AS (
    SELECT user_id,
           max({'ts_ms': epoch_ms(ts), 'event_id': event_id,
                'is_delete': CASE WHEN event_type = 'error' THEN 1 ELSE 0 END,
                'cents': CAST(round(value * 100) AS BIGINT)}) AS m
    FROM events GROUP BY 1
)
SELECT user_id, m['ts_ms'] AS ts_ms, m['event_id'] AS event_id,
       m['cents'] AS cents
FROM latest WHERE m['is_delete'] = 0
"""


@register("cdc_with_deletes", _CDC_DELETES_ORACLE, tags=["streaming", "analytics"])
def q_cdc_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction with DELETE tombstones: 'error' events act
    as deletes, so a key whose LATEST change is a tombstone drops out of
    the final state entirely — the full upsert-or-delete CDC contract
    (cdc_latest_state is the upsert-only half). Same single-struct-per-
    key streaming state; the delete flag rides inside the struct-max so
    the keep/drop decision falls out of the same monotonic reduction,
    and late-arriving older updates can never resurrect a deleted key."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_update_to_parquet

    stream = stream_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.unix_millis(F.col("ts")).alias("ts_ms"),
            F.col("event_id").alias("event_id"),
            (F.col("event_type") == "error").cast("int").alias("is_delete"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).alias("chg"),
    )
    latest = stream.groupBy("user_id").agg(F.max("chg").alias("m"))
    emissions = run_update_to_parquet(spark, latest)
    return (
        emissions.groupBy("user_id")
        .agg(F.max("m").alias("m"))
        .filter(F.col("m.is_delete") == 0)
        .select("user_id", "m.ts_ms", "m.event_id", "m.cents")
    )


_DIVISION_ORACLE = """
WITH types AS (SELECT count(DISTINCT event_type) AS nt FROM events)
SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
GROUP BY user_id
HAVING count(DISTINCT event_type) = (SELECT nt FROM types)
"""


@register("relational_division", _DIVISION_ORACLE, tags=["analytics", "relational"])
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION (the eighth classical operator): users who
    performed EVERY event type observed in the corpus — 'suppliers who
    supply all parts' in textbook form. Spelled as the count-distinct
    equality rewrite (one aggregate + a 1-row broadcast of the divisor
    cardinality), which beats the double-NOT-EXISTS correlated form by
    never touching a per-(user, type) anti-join."""
    ev = load_table(spark, sf_dir, "events")
    nt = ev.agg(F.count_distinct("event_type").alias("nt"))
    per_user = ev.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("n_types")
    )
    return (
        per_user.crossJoin(F.broadcast(nt))
        .filter(F.col("n_types") == F.col("nt"))
        .select("user_id", "n_types")
    )


_KMV_SETOPS_ORACLE = """
WITH hashed AS (
    SELECT DISTINCT event_type,
           CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 2147483647 AS h
    FROM events WHERE event_type IN ('view', 'purchase')
),
ret AS (
    SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ) WHERE rn <= 32
),
uni AS (
    SELECT h, dup, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT h, count(*) AS dup FROM ret GROUP BY 1)
),
topu AS (SELECT h, dup FROM uni WHERE rn <= 32),
est AS (
    SELECT CAST(count(*) AS BIGINT) AS k_u, max(h) AS kth,
           CAST(sum(CASE WHEN dup = 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared
    FROM topu
),
exact AS (
    SELECT (SELECT count(DISTINCT user_id) FROM events
            WHERE event_type IN ('view', 'purchase')) AS ex_union,
           (SELECT count(*) FROM (
               SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
               INTERSECT
               SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
           )) AS ex_inter
)
SELECT round(31.0 * 2147483647.0 / (SELECT kth FROM est), 2) AS union_est,
       round((SELECT CAST(shared AS DOUBLE) / k_u FROM est)
             * 31.0 * 2147483647.0 / (SELECT kth FROM est), 2) AS inter_est,
       CAST((SELECT ex_union FROM exact) AS BIGINT) AS union_exact,
       CAST((SELECT ex_inter FROM exact) AS BIGINT) AS inter_exact
"""


@register("kmv_set_operations", _KMV_SETOPS_ORACLE, tags=["analytics", "sketch"])
def q_kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: |viewers ∪ buyers| and |viewers ∩ buyers|
    estimated from the two 32-hash KMV sketches ALONE — union by
    re-topping the merged retained sets, intersection via the KMV
    Jaccard estimator (the fraction of the union's k smallest present
    in BOTH sketches scales the union estimate). Exact values sit
    beside the estimates. This is the audience-overlap question
    answered from per-segment sketches without re-touching raw data —
    the distinct-count analog of the CMS join-size estimate."""
    from streambench_spark.operators.aggregates import kmv_retained
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    two = ev.filter(F.col("event_type").isin("view", "purchase"))
    ret = kmv_retained(two, ["event_type"], "user_id", 32)
    uni = (
        ret.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("dup"))
        .withColumn("rn", F.row_number().over(Window.orderBy("_h")))
        .filter(F.col("rn") <= 32)
    )
    P = 2147483647.0
    est = uni.agg(
        F.count(F.lit(1)).alias("k_u"),
        F.max("_h").alias("kth"),
        F.sum((F.col("dup") == 2).cast("long")).alias("shared"),
    ).select(
        F.round(F.lit(31.0) * P / F.col("kth"), 2).alias("union_est"),
        F.round(
            (F.col("shared").cast("double") / F.col("k_u"))
            * 31.0 * P / F.col("kth"),
            2,
        ).alias("inter_est"),
    )
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    exact = (
        viewers.unionAll(buyers)
        .agg(F.count_distinct("user_id").alias("union_exact"))
        .crossJoin(
            viewers.intersect(buyers)
            .agg(F.count(F.lit(1)).alias("inter_exact"))
        )
    )
    return est.crossJoin(F.broadcast(exact))


_BANDS_ORACLE = """
WITH d AS (
    SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) * 86400000 AS bucket_ms,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
)
SELECT bucket_ms,
       round(quantile_cont(cents, 0.1), 4) AS p10_cents,
       round(quantile_cont(cents, 0.5), 4) AS p50_cents,
       round(quantile_cont(cents, 0.9), 4) AS p90_cents
FROM d GROUP BY 1
"""


@register("daily_value_bands", _BANDS_ORACLE, tags=["analytics", "timeseries"])
def q_daily_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/P50/P90 daily value bands — the BI fan-chart feed. Exact
    percentiles ride the distributed window-sort path (a hot day SPILLS
    instead of filling one executor with the day's value array, the
    percentile() buffering this engine bans); identical two-sided
    interpolation on identical sorted integer cents in both engines."""
    ev = load_table(spark, sf_dir, "events")
    day = ((F.unix_millis("ts") / 86400000).cast("long") * 86400000).alias(
        "bucket_ms"
    )
    cents = F.round(F.col("value") * 100).cast("long")
    pct = exact_percentiles_sorted(
        ev.select(day, cents.alias("cents")),
        "cents",
        {"p10_raw": 0.1, "p50_raw": 0.5, "p90_raw": 0.9},
        keys=["bucket_ms"],
    )
    return pct.select(
        "bucket_ms",
        F.round(F.col("p10_raw"), 4).alias("p10_cents"),
        F.round(F.col("p50_raw"), 4).alias("p50_cents"),
        F.round(F.col("p90_raw"), 4).alias("p90_cents"),
    )


_CUM_UNIQUE_ORACLE = """
WITH first_seen AS (
    SELECT user_id,
           min(CAST(epoch_ms(ts) // 86400000 AS BIGINT)) * 86400000
               AS bucket_ms
    FROM events GROUP BY 1
),
daily AS (
    SELECT bucket_ms, CAST(count(*) AS BIGINT) AS new_users
    FROM first_seen GROUP BY 1
)
SELECT bucket_ms, new_users,
       CAST(sum(new_users) OVER (
           ORDER BY bucket_ms ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_users
FROM daily
"""


@register("cumulative_unique_users", _CUM_UNIQUE_ORACLE, tags=["analytics", "behavioral"])
def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day via the FIRST-SEEN rewrite: a
    naive per-day cumulative COUNT(DISTINCT) recomputes a growing set
    every day (quadratic state); min(first day) per user + a running
    sum over the DAY-cardinality frame is one user-keyed aggregate and
    a 30-row window — the growth-curve feed at any scale."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        (
            (F.min(F.unix_millis("ts") / 86400000)).cast("long") * 86400000
        ).alias("bucket_ms")
    )
    daily = first_seen.groupBy("bucket_ms").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("bucket_ms").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "bucket_ms", "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


_DAU_MAU_ORACLE = """
WITH dau AS (
    SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) * 86400000 AS bucket_ms,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM events GROUP BY 1
),
mau AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS mau FROM events)
SELECT bucket_ms, dau, (SELECT mau FROM mau) AS mau,
       round(CAST(dau AS DOUBLE) / (SELECT mau FROM mau), 6) AS stickiness
FROM dau
"""


@register("dau_mau_stickiness", _DAU_MAU_ORACLE, tags=["analytics", "behavioral"])
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / MAU stickiness per day over the month-long table: daily
    distinct users against the period's distinct total (1-row broadcast)
    — the engagement ratio product teams track. At rolling-window scale
    the MAU side becomes the KMV rollup (kmv_daily_rollup) instead of an
    exact global distinct."""
    ev = load_table(spark, sf_dir, "events")
    day = ((F.unix_millis("ts") / 86400000).cast("long") * 86400000).alias(
        "bucket_ms"
    )
    dau = ev.select(day, "user_id").groupBy("bucket_ms").agg(
        F.count_distinct("user_id").alias("dau")
    )
    mau = ev.agg(F.count_distinct("user_id").alias("mau"))
    return dau.crossJoin(F.broadcast(mau)).select(
        "bucket_ms", "dau", "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
            "stickiness"
        ),
    )


_WOW_ORACLE = """
WITH w AS (
    SELECT CAST(epoch_ms(ts) // 604800000 AS BIGINT) * 604800000 AS week_ms,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS cents
    FROM events GROUP BY 1
)
SELECT week_ms, cents,
       coalesce(lag(cents) OVER (ORDER BY week_ms), -1) AS prev_cents,
       round(CASE WHEN lag(cents) OVER (ORDER BY week_ms) > 0
                  THEN CAST(cents - lag(cents) OVER (ORDER BY week_ms)
                            AS DOUBLE)
                       / lag(cents) OVER (ORDER BY week_ms)
                  END, 6) AS wow_growth
FROM w
"""


@register("weekly_revenue_growth", _WOW_ORACLE, tags=["analytics", "timeseries"])
def q_weekly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week purchase-revenue growth: exact integer weekly
    sums, lag over the WEEK-cardinality frame, one float division per
    week (NULL growth on the first week survives the comparator via the
    shared norm; prev coalesces to a sentinel)."""
    ev = load_table(spark, sf_dir, "events")
    week = ((F.unix_millis("ts") / 604800000).cast("long") * 604800000).alias(
        "week_ms"
    )
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.lit(0))
    w = (
        ev.select(week, cents.alias("c"))
        .groupBy("week_ms")
        .agg(F.sum("c").alias("cents"))
    )
    wo = Window.orderBy("week_ms")
    prev = F.lag("cents").over(wo)
    return w.select(
        "week_ms", "cents",
        F.coalesce(prev, F.lit(-1)).alias("prev_cents"),
        F.round(
            F.when(prev > 0, (F.col("cents") - prev).cast("double") / prev),
            6,
        ).alias("wow_growth"),
    )


_PARETO_ORACLE = """
WITH u AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(round(value * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS cents
    FROM events GROUP BY 1
),
r AS (
    SELECT cents,
           row_number() OVER (ORDER BY cents DESC, user_id ASC) AS rk,
           count(*) OVER () AS n, sum(cents) OVER () AS tot
    FROM u
)
SELECT CAST(p AS BIGINT) AS top_pct,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(cents) AS BIGINT) AS cents,
       round(CAST(sum(cents) AS DOUBLE) / any_value(tot), 6) AS revenue_share
FROM r CROSS JOIN (SELECT unnest([10, 20, 50]) AS p)
WHERE rk <= CAST(ceil(n * p / 100.0) AS BIGINT)
GROUP BY 1
"""


@register("revenue_pareto", _PARETO_ORACLE, tags=["analytics", "behavioral"])
def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto): the share of purchase revenue
    held by the top 10/20/50% of users — the 80/20 check beside the
    Gini coefficient's single number. Ranking runs DISTRIBUTED over the
    user-cardinality totals frame (relational.global_row_number — no
    single-task window) with a deterministic tie order; each threshold
    is a ceil of exact integers; grand totals re-read the enumerated
    checkpoint."""
    from streambench_spark.operators.relational import global_row_number

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("cents")
    )
    ranked = global_row_number(
        u, [F.desc("cents"), F.asc("user_id")], rank_col="rk", total_col="n"
    )
    tot = ranked.agg(F.sum("cents").alias("tot"))
    r = ranked.crossJoin(F.broadcast(tot))
    ps = spark.range(1).select(
        F.explode(F.array(F.lit(10), F.lit(20), F.lit(50))).alias("p")
    )
    return (
        r.crossJoin(F.broadcast(ps))
        .filter(
            F.col("rk")
            <= F.ceil(F.col("n") * F.col("p") / 100.0).cast("long")
        )
        .groupBy(F.col("p").cast("long").alias("top_pct"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cents").alias("cents"),
            # no purchase revenue at all -> grand total 0 and every
            # bucket sum 0: the oracle's 0/0 NULL, not an ANSI crash
            # (r13 fixture-fuzz find)
            F.when(
                F.any_value("tot") != 0,
                F.round(F.sum("cents").cast("double") / F.any_value("tot"), 6),
            ).alias("revenue_share"),
        )
    )


_CLAMPED_ORACLE = """
WITH d AS (
    SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
           CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100) AS BIGINT)
                WHEN event_type = 'error'
                THEN -CAST(round(value * 100) AS BIGINT)
                ELSE 0 END AS delta
    FROM events
),
seq AS (
    SELECT user_id,
           list(delta ORDER BY ts_ms, event_id) AS deltas
    FROM d GROUP BY 1
)
SELECT user_id,
       CAST(len(deltas) AS BIGINT) AS n_events,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), deltas),
                        (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x))
            AS BIGINT) AS final_balance
FROM seq
"""


@register("clamped_running_balance", _CLAMPED_ORACLE, tags=["analytics", "stateful"])
def q_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running balance per user (credits from purchases,
    debits from errors, balance never below zero): bal = max(0, bal + d)
    is a NON-LINEAR recurrence no window SUM can express — the clamp
    makes each step depend on the clamped history, exactly the class of
    per-key logic that otherwise forces applyInPandasWithState. Here it
    stays relational: an ordered collect per user + a left fold
    (aggregate / list_reduce), integer-exact, deterministic by the
    (ts, event_id) total order. Per-user state = the event list —
    bounded by per-key activity, riding the same user_id shuffle."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "user_id", F.unix_millis("ts").alias("ts_ms"), "event_id",
        F.when(F.col("event_type") == "purchase", cents)
        .when(F.col("event_type") == "error", -cents)
        .otherwise(F.lit(0))
        .alias("delta"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(ts_ms, event_id, delta))), x -> x.delta)"
            ).alias("deltas")
        )
        .select(
            "user_id",
            F.size("deltas").cast("long").alias("n_events"),
            F.expr(
                "aggregate(deltas, CAST(0 AS BIGINT), "
                "(acc, x) -> greatest(CAST(0 AS BIGINT), acc + x))"
            ).alias("final_balance"),
        )
    )


_PSI_ORACLE = """
WITH labeled AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS cents,
           CAST(epoch_ms(ts) // 604800000 AS BIGINT) AS wk
    FROM events
),
wks AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM labeled),
ref AS (SELECT cents FROM labeled, wks WHERE wk = w0),
cur AS (SELECT cents FROM labeled, wks WHERE wk = w1),
cnts AS (
    SELECT cents, count(*) AS cnt FROM ref GROUP BY 1
),
cum AS (
    SELECT cents,
           sum(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER () AS n
    FROM cnts
),
b AS (
    SELECT d,
           min(CASE WHEN cum >= CAST(ceil(d * n / 10.0) AS BIGINT)
                    THEN cents END) AS hi
    FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS d)
    GROUP BY 1
),
edges AS (SELECT list(hi ORDER BY d) AS e FROM b),
binned AS (
    SELECT 'ref' AS side,
           1 + len(list_filter(e, x -> cents > x)) AS bin
    FROM ref CROSS JOIN edges
    UNION ALL
    SELECT 'cur', 1 + len(list_filter(e, x -> cents > x))
    FROM cur CROSS JOIN edges
),
bc AS (
    SELECT bin,
           CAST(sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS c_ref,
           CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS c_cur
    FROM binned GROUP BY 1
),
tot AS (SELECT sum(c_ref) AS tr, sum(c_cur) AS tc FROM bc),
terms AS (
    SELECT bin,
           (CAST(c_cur AS DOUBLE) / tc - CAST(c_ref AS DOUBLE) / tr)
           * ln((CAST(c_cur AS DOUBLE) / tc) / (CAST(c_ref AS DOUBLE) / tr))
               AS term
    FROM bc CROSS JOIN tot
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       round(list_reduce(
           list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY bin)),
           (a, x) -> a + x), 6) AS psi
FROM terms
"""


def _week_labeled(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(labeled, wks): integer-cents values labeled with their epoch week
    + the (w0, w1) first/last-week bounds — the shared week-slice
    contract of the three drift tests (PSI / KS / MWU). Single-sourced
    so 'first week' and 'last week' cannot silently diverge between the
    statistics."""
    labeled = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.unix_millis("ts") / 604800000).cast("long").alias("wk"),
    )
    wks = labeled.agg(F.min("wk").alias("w0"), F.max("wk").alias("w1"))
    return labeled, wks


def _week_value_sides(ev: DataFrame) -> DataFrame:
    """Per-cents (a, b) counts for the first (a) and last (b) week — the
    merged value-domain frame KS and MWU both cumulate over."""
    labeled, wks = _week_labeled(ev)
    return (
        labeled.crossJoin(F.broadcast(wks))
        .filter((F.col("wk") == F.col("w0")) | (F.col("wk") == F.col("w1")))
        .groupBy("cents")
        .agg(
            F.sum((F.col("wk") == F.col("w0")).cast("long")).alias("a"),
            F.sum((F.col("wk") == F.col("w1")).cast("long")).alias("b"),
        )
    )


@register("psi_value_drift", _PSI_ORACLE, tags=["analytics", "quality"])
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and last week's
    value distributions — the ML-monitoring drift alarm (PSI > 0.2 =
    retrain). Decile edges come from the reference week via the
    discrete-percentile cumulative-count method (integer-exact, no
    interpolation); bin assignment counts edges below each value
    row-locally; +1 Laplace smoothing keeps empty bins finite; the
    10-term float sum is a bin-ordered left fold. Everything after the
    two scans is bin- or value-domain-cardinality."""
    ev = load_table(spark, sf_dir, "events")
    labeled, wks = _week_labeled(ev)
    lw = labeled.crossJoin(F.broadcast(wks))
    # checkpoint the two week slices: ref feeds the decile build AND the
    # binning, cur feeds the binning — without this each branch re-scans
    # the raw table (measured 8.5 s -> ~3 s at sf0.1 for a 1-row result)
    ref = (
        lw.filter(F.col("wk") == F.col("w0")).select("cents")
        .localCheckpoint(eager=True)
    )
    cur = (
        lw.filter(F.col("wk") == F.col("w1")).select("cents")
        .localCheckpoint(eager=True)
    )
    cnts = ref.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = cnts.select(
        "cents",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    ds = spark.range(1, 10).select(F.col("id").alias("d"))
    b = (
        cum.crossJoin(F.broadcast(ds))
        .groupBy("d")
        .agg(
            F.min(
                F.when(
                    F.col("cum")
                    >= F.ceil(F.col("d") * F.col("n") / 10.0).cast("long"),
                    F.col("cents"),
                )
            ).alias("hi")
        )
    )
    edges = b.agg(
        F.expr("transform(array_sort(collect_list(struct(d, hi))), x -> x.hi)")
        .alias("e")
    )
    def binned(side_df, side):
        return (
            side_df.crossJoin(F.broadcast(edges))
            .select(
                F.lit(side).alias("side"),
                (
                    1 + F.size(F.expr("filter(e, x -> cents > x)"))
                ).alias("bin"),
            )
        )
    bc = (
        binned(ref, "ref").unionAll(binned(cur, "cur"))
        .groupBy("bin")
        .agg(
            (F.sum((F.col("side") == "ref").cast("long")) + 1).alias("c_ref"),
            (F.sum((F.col("side") == "cur").cast("long")) + 1).alias("c_cur"),
        )
    )
    tot = bc.agg(
        F.sum("c_ref").alias("tr"), F.sum("c_cur").alias("tc")
    )
    terms = bc.crossJoin(F.broadcast(tot)).select(
        "bin",
        (
            (F.col("c_cur").cast("double") / F.col("tc")
             - F.col("c_ref").cast("double") / F.col("tr"))
            * F.log(
                (F.col("c_cur").cast("double") / F.col("tc"))
                / (F.col("c_ref").cast("double") / F.col("tr"))
            )
        ).alias("term"),
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.round(
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(bin, term))), x -> x.term), CAST(0 AS DOUBLE), "
                "(a, x) -> a + x)"
            ),
            6,
        ).alias("psi"),
    )


_KS_ORACLE = """
WITH labeled AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS cents,
           CAST(epoch_ms(ts) // 604800000 AS BIGINT) AS wk
    FROM events
),
wks AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM labeled),
sides AS (
    SELECT cents,
           CAST(sum(CASE WHEN wk = (SELECT w0 FROM wks) THEN 1 ELSE 0 END)
                AS BIGINT) AS a,
           CAST(sum(CASE WHEN wk = (SELECT w1 FROM wks) THEN 1 ELSE 0 END)
                AS BIGINT) AS b
    FROM labeled
    WHERE wk IN ((SELECT w0 FROM wks), (SELECT w1 FROM wks))
    GROUP BY 1
),
cum AS (
    SELECT cents,
           sum(a) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS ca,
           sum(b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cb,
           sum(a) OVER () AS na, sum(b) OVER () AS nb
    FROM sides
)
SELECT CAST(any_value(na) AS BIGINT) AS n_ref,
       CAST(any_value(nb) AS BIGINT) AS n_cur,
       round(max(abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)), 6)
           AS ks_d
FROM cum
"""


@register("ks_value_drift", _KS_ORACLE, tags=["analytics", "quality"])
def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D between the first and last
    week's value distributions — the binning-free drift test beside
    PSI (PSI quantizes into deciles; KS takes the sup over every
    observed value). Both CDFs ride ONE cumulative window over the
    merged value-domain counts frame; every fraction divides exact
    integers and the max is order-free. Value-domain cardinality
    bounds all post-scan work."""
    ev = load_table(spark, sf_dir, "events")
    sides = _week_value_sides(ev)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cum = sides.select(
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
        F.sum("a").over(tot).alias("na"),
        F.sum("b").over(tot).alias("nb"),
    )
    return cum.agg(
        F.any_value("na").cast("long").alias("n_ref"),
        F.any_value("nb").cast("long").alias("n_cur"),
        F.round(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("na")
                    - F.col("cb").cast("double") / F.col("nb")
                )
            ),
            6,
        ).alias("ks_d"),
    )


_MWU_ORACLE = """
WITH labeled AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS cents,
           CAST(epoch_ms(ts) // 604800000 AS BIGINT) AS wk
    FROM events
),
wks AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM labeled),
sides AS (
    SELECT cents,
           CAST(sum(CASE WHEN wk = (SELECT w0 FROM wks) THEN 1 ELSE 0 END)
                AS BIGINT) AS a,
           CAST(sum(CASE WHEN wk = (SELECT w1 FROM wks) THEN 1 ELSE 0 END)
                AS BIGINT) AS b
    FROM labeled
    WHERE wk IN ((SELECT w0 FROM wks), (SELECT w1 FROM wks))
    GROUP BY 1
),
cum AS (
    SELECT cents, a, b, a + b AS t,
           coalesce(sum(a + b) OVER (
               ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS before_
    FROM sides
),
agg AS (
    SELECT sum(a) AS n1, sum(b) AS n2,
           sum(a * (2 * before_ + t + 1)) AS r1x2,
           sum(t * t * t - t) AS tie3
    FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
       CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
       round((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * n2 / 2)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                    * ((n1 + n2 + 1)
                       - CAST(tie3 AS DOUBLE)
                         / ((n1 + n2) * (n1 + n2 - 1)))), 4) + 0.0 AS z
FROM agg
"""


@register("mannwhitney_value_drift", _MWU_ORACLE, tags=["analytics", "stats"])
def q_mannwhitney_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the first and last week's
    values — the nonparametric location test completing the drift
    toolkit (PSI: binned divergence; KS: sup-CDF; MWU: rank shift with
    a p-value-ready z). Tie handling is exact by construction: doubled
    average ranks (2*cum_before + t + 1) keep every rank sum an
    INTEGER through ties, and the tie-corrected variance divides exact
    integer sums only at the final z. All post-scan work is
    value-domain-cardinality."""
    ev = load_table(spark, sf_dir, "events")
    sides = _week_value_sides(ev)
    wb = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = sides.select(
        "a", "b", (F.col("a") + F.col("b")).alias("t"),
        F.coalesce(
            F.sum(F.col("a") + F.col("b")).over(wb), F.lit(0)
        ).alias("before_"),
    )
    agg = cum.agg(
        F.sum("a").alias("n1"),
        F.sum("b").alias("n2"),
        F.sum(F.col("a") * (2 * F.col("before_") + F.col("t") + 1)).alias("r1x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1x2 = F.col("r1x2") - n1 * (n1 + 1)
    # Two ANSI-crash edges the oracle answers with NULL (r13 fixture-
    # fuzz find): one observation total zeroes the tie-correction
    # denominator (N(N-1)), and a fully-tied sample zeroes the variance
    # itself (the z numerator is exactly 0 then). Guard both; the NULLs
    # propagate like DuckDB's x/0. The `var > 0` comparison sees exact
    # doubles while tie3 = Σ(t³-t) stays below 2^53 (N ≤ ~2e5 distinct-
    # value multiplicity); past that, both engines round the identical
    # IEEE expression the same way (family-wide note at
    # q_value_correlation).
    ntot = n1 + n2
    tie_term = F.when(
        ntot > 1, F.col("tie3").cast("double") / (ntot * (ntot - 1))
    )
    var = n1.cast("double") * n2 / 12.0 * ((ntot + 1) - tie_term)
    return agg.select(
        n1.cast("long").alias("n_ref"),
        n2.cast("long").alias("n_cur"),
        u1x2.cast("long").alias("u1_x2"),
        (
            F.when(
                var > 0,
                F.round(
                    (u1x2.cast("double") / 2 - n1.cast("double") * n2 / 2)
                    / F.sqrt(var),
                    4,
                ),
            )
            + F.lit(0.0)
        ).alias("z"),
    )


_WEEKDAY_ORACLE = """
WITH d AS (
    SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,  -- DuckDB Sun=0; Spark Sun=1
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
)
SELECT dow, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(cents) AS DOUBLE) / count(*), 4) AS mean_cents,
       round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6)
           AS traffic_share
FROM d GROUP BY 1
"""


@register("weekday_seasonality", _WEEKDAY_ORACLE, tags=["analytics", "timeseries"])
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: traffic share and mean value per
    weekday — the calendar pattern a forecast must strip. Indexing is
    NOT portable: Spark's dayofweek is Sunday=1 but DuckDB's is
    Sunday=0, which is why the oracle adds +1 — removing that
    'redundant' offset shifts every bucket. Everything else is exact
    integers into a 7-row frame."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = d.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    return g.select(
        "dow", "n",
        F.round(F.col("s").cast("double") / F.col("n"), 4).alias("mean_cents"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(Window.partitionBy()), 6
        ).alias("traffic_share"),
    )


_BOUNCE_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
), marked AS (
    SELECT user_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR ts - prev_ts > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
), sessions AS (
    SELECT user_id,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
), sizes AS (
    SELECT user_id, sid, count(*) AS n FROM sessions GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS bounce_rate
FROM sizes
"""


@register("session_bounce_rate", _BOUNCE_ORACLE, tags=["analytics", "behavioral"])
def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate over the 30-minute sessionization: the share of
    sessions containing exactly one event — the engagement-quality
    number on top of session_windows' same gaps-and-islands frame; one
    extra session-cardinality aggregate."""
    ev = load_table(spark, sf_dir, "events")
    sizes = (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("n") == 1).cast("long")).alias("n_bounces"),
        F.round(
            F.sum((F.col("n") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


_ENTROPY_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
t AS (
    SELECT user_id, event_type, n,
           sum(n) OVER (PARTITION BY user_id) AS tot
    FROM c
),
terms AS (
    SELECT user_id, event_type,
           -(CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot) AS term
    FROM t
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_types,
       round(list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                              list(term ORDER BY event_type)),
                 (a, x) -> a + x), 6) AS entropy
FROM terms GROUP BY user_id
"""


@register("user_behavior_entropy", _ENTROPY_ORACLE, tags=["analytics", "behavioral"])
def q_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity feature (0 = single-action bots, ln(5) = uniform across
    all types). Each term is a pure function of exact integer counts;
    the per-user sum is a type-ordered left fold, so the handful of
    float terms add in the same order in both engines. Rides the same
    (user, type) aggregate the activity matrix uses."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.withColumn(
        "tot", F.sum("n").over(Window.partitionBy("user_id"))
    )
    terms = t.select(
        "user_id", "event_type",
        (
            -(F.col("n").cast("double") / F.col("tot"))
            * F.log(F.col("n").cast("double") / F.col("tot"))
        ).alias("term"),
    )
    return terms.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(event_type, term))), x -> x.term), "
                "CAST(0 AS DOUBLE), (a, x) -> a + x)"
            ),
            6,
        ).alias("entropy"),
    )


_STREAK_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id,
           CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS d
    FROM events
),
isl AS (
    SELECT user_id, d,
           d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
    FROM days
),
runs AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS run_len
    FROM isl GROUP BY user_id, grp
)
SELECT user_id,
       max(run_len) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM runs GROUP BY 1
"""


@register("longest_active_streak", _STREAK_ORACLE, tags=["analytics", "behavioral"])
def q_longest_active_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user — the classic
    gaps-and-islands: day_number minus its rank is constant within a
    consecutive run, so one window + two aggregates on the (user, day)
    distinct frame give every streak. All integers; the engagement
    feature behind streak-based retention mechanics."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", (F.unix_millis("ts") / 86400000).cast("long").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("grp", F.col("d") - F.row_number().over(w))
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


_ABC_ORACLE = """
WITH p AS (
    SELECT l_partkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM lineitem GROUP BY 1
),
r AS (
    SELECT l_partkey, cents,
           sum(cents) OVER (
               ORDER BY cents DESC, l_partkey ASC ROWS UNBOUNDED PRECEDING)
               AS cum,
           sum(cents) OVER () AS tot
    FROM p
),
c AS (
    SELECT l_partkey, cents,
           CASE WHEN cum * 10 <= tot * 8 THEN 'A'
                WHEN cum * 100 <= tot * 95 THEN 'B'
                ELSE 'C' END AS abc
    FROM r
)
SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS cents
FROM c GROUP BY 1
"""


@register("abc_classification", _ABC_ORACLE, tags=["analytics", "mining"])
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, classed A
    while cumulative share <= 80%, B to 95%, else C — with the share
    boundaries tested as INTEGER cross-multiplications (cum*10 <=
    tot*8), so no float division can flip a class. The cumulative sum
    runs DISTRIBUTED (relational.global_prefix_sum: range-partitioned
    local cumsums + broadcast offsets) over the part-cardinality revenue
    frame — an unpartitioned sum().over(orderBy) window would funnel
    every part through one task, the single-task-Exchange shape the
    gini/pareto/rfm queries already migrated away from."""
    from streambench_spark.operators.relational import global_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
    )
    r = global_prefix_sum(
        p,
        [F.desc("cents"), F.asc("l_partkey")],
        "cents",
        cum_col="cum",
        total_col="tot",
    )
    abc = (
        F.when(F.col("cum") * 10 <= F.col("tot") * 8, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
    )
    return r.select(abc.alias("abc"), "cents").groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_parts"), F.sum("cents").alias("cents")
    )


_AFFINITY_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
), marked AS (
    SELECT user_id, ts, event_type,
           CASE WHEN prev_ts IS NULL
                     OR ts - prev_ts > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
), sess AS (
    SELECT user_id, event_type,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
), st AS (
    SELECT DISTINCT user_id, sid, event_type FROM sess
),
n_sess AS (SELECT CAST(count(DISTINCT (user_id, sid)) AS BIGINT) AS n
           FROM st),
tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM st GROUP BY 1),
pairs AS (
    SELECT a.event_type AS ta, b.event_type AS tb,
           CAST(count(*) AS BIGINT) AS cab
    FROM st a JOIN st b
      ON a.user_id = b.user_id AND a.sid = b.sid
     AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT ta, tb, cab,
       round(CAST(cab AS DOUBLE) * (SELECT n FROM n_sess)
             / (CAST(ca.c AS DOUBLE) * cb.c), 6) AS lift
FROM pairs
JOIN tc ca ON ca.event_type = ta
JOIN tc cb ON cb.event_type = tb
"""


@register("session_type_affinity", _AFFINITY_ORACLE, tags=["analytics", "behavioral"])
def q_session_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type affinity: lift of type pairs co-
    occurring in the same 30-minute session — market-basket analysis
    where the basket is a session, the behavioral sibling of
    frequent_itempairs' order baskets. The per-session distinct type
    set is bounded by the type domain, so the pair self-join's bucket
    is O(|types|) per session; counts exact, one division per pair."""
    ev = load_table(spark, sf_dir, "events")
    # sessionize per USER (a grouped session_window keyed on (user, type)
    # would merge each type separately and the sessions never align);
    # the shared lag-sweep helper pins the strict-> gap break
    sess = win_ops.sessionize_lag_sweep(
        ev.select("user_id", "ts", "event_type"), "ts", 1800000, ["user_id"]
    )
    st = sess.select("user_id", F.col("sid").alias("s0"), "event_type").distinct()
    n_sess = st.select("user_id", "s0").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    tc = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        st.alias("a")
        .join(
            st.alias("b"),
            F.expr(
                "a.user_id = b.user_id AND a.s0 = b.s0 "
                "AND a.event_type < b.event_type"
            ),
        )
        .groupBy(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    ca = tc.select(F.col("event_type").alias("ta"), F.col("c").alias("ca"))
    cb = tc.select(F.col("event_type").alias("tb"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "ta")
        .join(F.broadcast(cb), "tb")
        .crossJoin(F.broadcast(n_sess))
        .select(
            "ta", "tb", "cab",
            F.round(
                F.col("cab").cast("double") * F.col("n")
                / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


_NEWRET_ORACLE = """
WITH first_seen AS (
    SELECT user_id, min(CAST(epoch_ms(ts) // 86400000 AS BIGINT)) AS d0
    FROM events GROUP BY 1
),
daily AS (
    SELECT DISTINCT user_id, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS d
    FROM events
)
SELECT d * 86400000 AS bucket_ms,
       CAST(sum(CASE WHEN d = d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN d > d0 THEN 1 ELSE 0 END) AS BIGINT)
           AS returning_users
FROM daily JOIN first_seen USING (user_id)
GROUP BY 1
"""


@register("new_vs_returning_daily", _NEWRET_ORACLE, tags=["analytics", "behavioral"])
def q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: each active (user, day) classified
    by whether it is the user's FIRST day — the acquisition/retention
    decomposition of the DAU line. first-seen is one user aggregate
    joined back onto the distinct (user, day) frame; all integers."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_millis("ts") / 86400000).cast("long")
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    daily = ev.select("user_id", day.alias("d")).distinct()
    return (
        daily.join(first_seen, "user_id")
        .groupBy((F.col("d") * 86400000).alias("bucket_ms"))
        .agg(
            F.sum((F.col("d") == F.col("d0")).cast("long")).alias("new_users"),
            F.sum((F.col("d") > F.col("d0")).cast("long")).alias(
                "returning_users"
            ),
        )
    )


_SESS_CONV_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
), marked AS (
    SELECT user_id, ts, event_type,
           CASE WHEN prev_ts IS NULL
                     OR ts - prev_ts > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
), sess AS (
    SELECT user_id, event_type,
           sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
), flags AS (
    SELECT user_id, sid,
           max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_buy
    FROM sess GROUP BY 1, 2
)
SELECT CAST(sum(has_view) AS BIGINT) AS view_sessions,
       CAST(sum(CASE WHEN has_view = 1 AND has_buy = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS converting_sessions,
       round(CAST(sum(CASE WHEN has_view = 1 AND has_buy = 1
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(has_view), 6) AS session_conversion
FROM flags
"""


@register("session_conversion_rate", _SESS_CONV_ORACLE, tags=["analytics", "behavioral"])
def q_session_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-session conversion: of sessions containing a view, the share
    that also contain a purchase — the tightest funnel scope (the user-
    level funnel credits conversions across days; this one demands the
    intent and the purchase share a session). Per-user sweep
    sessionization + one flags aggregate per session."""
    ev = load_table(spark, sf_dir, "events")
    sess = win_ops.sessionize_lag_sweep(
        ev.select("user_id", "ts", "event_type"), "ts", 1800000, ["user_id"]
    )
    flags = sess.groupBy("user_id", "sid").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("has_view"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("has_buy"),
    )
    # A corpus with no view sessions zeroes the denominator and the
    # numerator together; NULL is the oracle's 0/0, an ANSI crash is
    # not (r13 fixture-fuzz find).
    return flags.agg(
        F.sum("has_view").cast("long").alias("view_sessions"),
        F.sum(
            ((F.col("has_view") == 1) & (F.col("has_buy") == 1)).cast("long")
        ).alias("converting_sessions"),
        F.when(
            F.sum("has_view") != 0,
            F.round(
                F.sum(
                    ((F.col("has_view") == 1) & (F.col("has_buy") == 1)).cast(
                        "long"
                    )
                ).cast("double")
                / F.sum("has_view"),
                6,
            ),
        ).alias("session_conversion"),
    )


_CCF_ORACLE = """
WITH h AS (
    SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS bh,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS p,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS e
    FROM events GROUP BY 1
),
lagged AS (
    SELECT bh, p, e, lg.lag AS lag,
           lead(e, 2) OVER w AS e_m2, lead(e, 1) OVER w AS e_m1,
           lag(e, 1) OVER w AS e_p1, lag(e, 2) OVER w AS e_p2
    FROM h CROSS JOIN (SELECT unnest([-2, -1, 0, 1, 2]) AS lag) lg(lag)
    WINDOW w AS (PARTITION BY lg.lag ORDER BY bh)
),
pairs AS (
    SELECT lag, p AS x,
           CASE lag WHEN -2 THEN e_m2 WHEN -1 THEN e_m1 WHEN 0 THEN e
                    WHEN 1 THEN e_p1 ELSE e_p2 END AS y
    FROM lagged
),
s AS (
    SELECT lag, CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM pairs WHERE y IS NOT NULL GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 AS ccf
FROM s
"""


@register("hourly_ccf_purchase_error", _CCF_ORACLE, tags=["analytics", "timeseries"])
def q_hourly_ccf_purchase_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the hourly purchase and error
    series at lags -2..+2 — does load lead failures or trail them? Each
    lag's Pearson r comes from exact BIGINT sums (the value_autocorr
    pattern, crossed between two series); the lag shift is a per-lag
    window over the hour-cardinality frame."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            (F.unix_millis("ts") / 3600000).cast("long").alias("bh"),
            "event_type",
        )
        .groupBy("bh")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("p"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("e"),
        )
    )
    lags = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v) for v in (-2, -1, 0, 1, 2)])
        ).alias("lag")
    )
    wl = Window.partitionBy("lag").orderBy("bh")
    lagged = h.crossJoin(F.broadcast(lags)).select(
        "bh", "p", "e", "lag",
        F.lead("e", 2).over(wl).alias("e_m2"),
        F.lead("e", 1).over(wl).alias("e_m1"),
        F.lag("e", 1).over(wl).alias("e_p1"),
        F.lag("e", 2).over(wl).alias("e_p2"),
    )
    y = (
        F.when(F.col("lag") == -2, F.col("e_m2"))
        .when(F.col("lag") == -1, F.col("e_m1"))
        .when(F.col("lag") == 0, F.col("e"))
        .when(F.col("lag") == 1, F.col("e_p1"))
        .otherwise(F.col("e_p2"))
    )
    pairs = lagged.select("lag", F.col("p").alias("x"), y.alias("y")).filter(
        F.col("y").isNotNull()
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # A lag with constant per-hour counts (or one overlapping pair)
    # zeroes the variance product — numerator exactly 0 then, so the
    # guard only introduces the oracle's 0/0 NULL instead of an ANSI
    # crash (r13 fixture-fuzz find). Factors subtract in exact long
    # arithmetic before the double cast — no rounded tiny-negative is
    # possible (see q_value_correlation for the family-wide note).
    _ccf_var2 = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        F.col("lag").cast("long").alias("lag"), "n",
        (
            F.when(
                _ccf_var2 > 0,
                F.round(
                    (
                        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
                    ).cast("double")
                    / F.sqrt(_ccf_var2),
                    6,
                ),
            )
            + F.lit(0.0)
        ).alias("ccf"),
    )


_DEGREE_ORACLE = """
WITH e AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT n, CAST(count(*) AS BIGINT) AS d
    FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)
    GROUP BY 1
)
SELECT CAST(floor(log2(d)) AS BIGINT) AS log2_degree,
       CAST(count(*) AS BIGINT) AS n_nodes,
       min(d) AS min_degree, max(d) AS max_degree
FROM deg GROUP BY 1
"""


@register("copurchase_degree_distribution", _DEGREE_ORACLE, tags=["analytics", "graph"])
def q_copurchase_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph — the
    skew profile read BEFORE choosing a join/orientation strategy (a
    heavy power-law tail is what makes the degree-ordered triangle
    orientation and salted joins necessary). Bucket boundaries are
    exact powers of two; one edge build + one node aggregate. Single
    pass over the edge frame → the basket-local edge build wins here
    at the benched SF (r11 A/B: 2.11→1.45 s at sf0.1, consistent over
    5 interleaved reps; at 8x volume the two converge with a slight
    self-join edge — see _copurchase_edges and the SURVEY.md
    Round-11 amendments for the full picture)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li, basket_local=True)
    deg = (
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.groupBy(
        F.floor(F.log2("d")).cast("long").alias("log2_degree")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").alias("min_degree"),
        F.max("d").alias("max_degree"),
    )
