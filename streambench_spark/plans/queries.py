"""Named query registry — the driver-facing capability surface.

Every entry pairs a PySpark builder ``(spark, sf_dir) -> DataFrame`` with a
DuckDB oracle SQL string over the same parquet tables (views: region nation
customer supplier part orders lineitem events documents embeddings).
The driver compares row-count + schema + order-insensitive value hash, with
columns sorted by name — so every computed column is aliased identically on
both sides, floats are rounded identically, and timestamps are emitted as
epoch millis (LONG) to avoid formatting ambiguity.

Each entry's docstring cites the SURVEY.md §2 row(s) it covers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streambench_spark.catalog import load_table
from streambench_spark.operators import aggregates as agg_ops
from streambench_spark.operators import relational as rel
from streambench_spark.operators import windows as win
from streambench_spark.plans.ysb import ysb_oracle_sql, ysb_query

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    fn: QueryFn
    oracle: str | None  # None → driver records weaker rows-only check
    tags: list[str] = field(default_factory=list)


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, tags: list[str] | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QueryDef(fn=fn, oracle=oracle, tags=tags or [])
        return fn

    return deco


# ---------------------------------------------------------------------------
# YSB core (SURVEY.md §2.2-2.5: P1 P2 J1 A1 W1)
# ---------------------------------------------------------------------------


@register("ysb", ysb_oracle_sql(3600), tags=["flagship", "ysb"])
def q_ysb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE query: filter → project → broadcast dim join → 1h tumbling
    windowed count+max (SparkYahooRunner.scala:71-83)."""
    return ysb_query(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        window="1 hour",
    )


@register("ysb_10s", ysb_oracle_sql(10), tags=["ysb"])
def q_ysb_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful 10 s window variant (SparkYahooRunner.scala:75)."""
    return ysb_query(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        window="10 seconds",
    )


@register("ysb_streaming", ysb_oracle_sql(3600), tags=["ysb", "streaming"])
def q_ysb_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE query executed through Structured Streaming: file-source replay
    of the frozen events table, complete-mode memory sink, final state
    returned as a batch DataFrame — streaming ≡ batch equivalence is the
    correctness claim (SURVEY.md §5.2 step 2)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_to_memory, ysb_streaming

    out = ysb_streaming(
        stream_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        window="1 hour", watermark=None,
    )
    _, table = run_to_memory(out, mode="complete")
    return spark.table(table)


@register(
    "filter_project",
    """
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
    FROM events WHERE event_type = 'view'
    """,
    tags=["relational"],
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2: predicate and projection both reach the parquet scan
    (PushedFilters / ReadSchema)."""
    ev = load_table(spark, sf_dir, "events")
    out = rel.project(
        rel.filter_where(ev, F.col("event_type") == "view"),
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
    )
    return out


@register(
    "windowed_global_sum",
    """
    SELECT
        epoch_ms(time_bucket(INTERVAL 1 DAY, ts)) AS window_start,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
            AS sum_value_cents,
        count(*) AS n
    FROM events GROUP BY 1
    """,
    tags=["windows"],
)
def q_windowed_global_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (WinSum_addlong): per-window global sum, no key. Monetary values
    summed as integer cents so the result is associativity-independent
    (bit-exact under any partitioning / aggregation order)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    out = win.windowed_global_agg(
        ev,
        "ts",
        "1 day",
        [
            F.sum(cents).alias("sum_value_cents"),
            F.count(F.lit(1)).alias("n"),
        ],
    )
    return out.select("window_start", "sum_value_cents", "n")


@register(
    "windowed_distinct_users",
    """
    SELECT
        epoch_ms(time_bucket(INTERVAL 1 DAY, ts)) AS window_start,
        count(DISTINCT user_id) AS distinct_count
    FROM events GROUP BY 1
    """,
    tags=["windows"],
)
def q_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (WinSum_mergeset): per-window distinct count — exact in batch;
    the streaming/100TB path uses approx_count_distinct (HLL)."""
    ev = load_table(spark, sf_dir, "events")
    out = win.windowed_distinct_count(ev, "ts", "1 day", "user_id", exact=True)
    return out.select("window_start", "distinct_count")


@register(
    "windowed_collect",
    """
    SELECT
        epoch_ms(time_bucket(INTERVAL 1 DAY, ts)) AS window_start,
        string_agg(event_type, ',' ORDER BY event_type) AS collected
    FROM events
    WHERE event_type IN ('view', 'click')
    GROUP BY 1
    """,
    tags=["windows"],
)
def q_windowed_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (WinSum_mergevector): collect values per window; emitted as a
    sorted comma-joined string for deterministic comparison."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    out = win.windowed_collect(ev, "ts", "1 day", "event_type", sort=True)
    return out.select(
        "window_start", F.array_join(F.col("collected"), ",").alias("collected")
    )


@register(
    "sliding_window_counts",
    """
    WITH offsets AS (SELECT unnest([0, 1]) AS k)
    SELECT
        epoch_ms(time_bucket(INTERVAL 12 HOUR, ts) - (k * INTERVAL 12 HOUR))
            AS window_start,
        count(*) AS n,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
            AS sum_value_cents
    FROM events CROSS JOIN offsets
    GROUP BY 1
    HAVING window_start > epoch_ms(TIMESTAMP '2023-12-31 12:00:00')
    """,
    tags=["windows"],
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: sliding window (1 day length, 12 h slide) — each row lands in 2
    windows, mirroring StreamBox's window-count aggregation arg
    (sbx/test-yahoo.cpp:139). The oracle replicates window assignment by
    cross-joining slide offsets. The first (partial) window is excluded on
    both sides: Spark only materializes windows that contain data, and the
    boundary window differs between the two assignment formulations.
    """
    ev = load_table(spark, sf_dir, "events")
    out = win.windowed_keyed_agg(
        ev,
        "ts",
        "1 day",
        keys=[],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        ],
        slide="12 hours",
    )
    cutoff_ms = 1704024000000  # 2023-12-31 12:00:00 UTC
    return out.select("window_start", "n", "sum_value_cents").filter(
        F.col("window_start") > cutoff_ms
    )


@register(
    "session_windows",
    """
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
    """,
    tags=["windows"],
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: session windows, 30 min gap, per user — Spark session_window
    implements the reference's gap-merge semantics (sbx/Values.h:1414-1688).
    Oracle is the classic gaps-and-islands rewrite."""
    ev = load_table(spark, sf_dir, "events")
    out = win.session_windowed_agg(
        ev,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


@register(
    "ysb_streaming_append",
    """
    WITH wm AS (
        SELECT epoch_ms(max(ts)) - 1000 AS wm_ms
        FROM events WHERE event_type = 'view'
    )
    SELECT
        epoch_ms(time_bucket(INTERVAL 3600 SECOND, e.ts)) AS time_window,
        c.c_mktsegment AS segment,
        count(*) AS count,
        epoch_ms(max(e.ts)) AS last_update_ms
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'view'
    GROUP BY 1, 2
    HAVING time_window + 3600000 <= (SELECT wm_ms FROM wm)
    """,
    tags=["ysb", "streaming"],
)
def q_ysb_streaming_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE query in the scale-correct streaming shape: append mode +
    watermark + parquet file sink (bounded state, nothing collected to the
    driver). Emits exactly the windows finalized by the closing watermark:
    a window is emitted once the final watermark (max event time − delay,
    advanced by the closing no-data micro-batch) is >= its end; the
    trailing window(s) stay in state, so the result is the batch result
    minus the unfinalized windows, and late rows are dropped.

    The stream is pre-filtered to 'view' BEFORE withWatermark so the
    watermark clock is definitionally max(view ts) − 1 s (Catalyst pushes
    the filter below the watermark node anyway; making it explicit keeps
    the oracle's cutoff independent of optimizer placement)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet, ysb_streaming

    out = ysb_streaming(
        stream_table(spark, sf_dir, "events").filter(F.col("event_type") == "view"),
        load_table(spark, sf_dir, "customer"),
        window="1 hour", watermark="1 second",
    )
    return run_append_to_parquet(spark, out)


@register("ysb_trigger_early_fire", ysb_oracle_sql(3600), tags=["ysb", "streaming"])
def q_ysb_trigger_early_fire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 driver-proof: the YSB aggregate drained under a PROCESSING-TIME
    trigger (early firing every 150 ms — the reference's
    flinkTriggerIntervalMillis cadence) over a multi-file replay paced at
    one file per trigger. Update-mode emissions accumulate in parquet;
    the per-key max of the monotonic (count, last_update) reduces the
    early-fire stream to the final state, which equals the batch YSB
    result for ANY trigger cadence or file order."""
    from streambench_spark.sources.replay import stream_table_multifile
    from streambench_spark.streaming.ysb import run_update_with_interval_trigger

    total = load_table(spark, sf_dir, "events").count()
    stream = stream_table_multifile(spark, sf_dir, "events", n_files=8)
    out = ysb_query(stream, load_table(spark, sf_dir, "customer"), window="1 hour")
    emissions = run_update_with_interval_trigger(
        spark, out, expected_rows=total, trigger_ms=150
    )
    return emissions.groupBy("time_window", "segment").agg(
        F.max("count").alias("count"),
        F.max("last_update_ms").alias("last_update_ms"),
    )


@register("ysb_paced_files_drain", ysb_oracle_sql(3600), tags=["ysb", "streaming"])
def q_ysb_paced_files_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 driver-proof: bounded availableNow drain with the file-source
    backpressure knob (maxFilesPerTrigger=1 — the file analog of Kafka's
    maxOffsetsPerTrigger): the 8-file replay becomes ~8
    bounded micro-batches instead of one. Update-mode foreachBatch
    parquet drain + per-key max reduction, as above — equal to the batch
    YSB result regardless of pacing."""
    from streambench_spark.sources.replay import stream_table_multifile
    from streambench_spark.streaming.ysb import run_update_to_parquet

    stream = stream_table_multifile(
        spark, sf_dir, "events", n_files=8, max_files_per_trigger=1
    )
    out = ysb_query(stream, load_table(spark, sf_dir, "customer"), window="1 hour")
    emissions = run_update_to_parquet(spark, out)
    return emissions.groupBy("time_window", "segment").agg(
        F.max("count").alias("count"),
        F.max("last_update_ms").alias("last_update_ms"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J4) and relational breadth
# ---------------------------------------------------------------------------

# One oracle, three physical strategies (plain / banded / streaming) — the
# point of the twins is identical semantics, so the boundary rule
# (BOTH-inclusive [l.ts, l.ts + 1h]) is single-sourced here.
_INTERVAL_1H_ORACLE = """
    SELECT l.event_id AS view_id, r.event_id AS purchase_id, l.user_id AS user_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 1 HOUR
    WHERE l.event_type = 'view' AND r.event_type = 'purchase'
    """


@register("interval_self_join", _INTERVAL_1H_ORACLE, tags=["joins"])
def q_interval_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: stream-stream style join with time bounds — views followed by a
    purchase from the same user within 1 h. In streaming this is Spark's
    watermarked symmetric hash join; state bounded by the 1 h band."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = rel.interval_join(
        views, purchases, key="user_id", left_ts="ts", right_ts="ts",
        lower="0 seconds", upper="1 hour",
    )
    return joined.select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
    )


@register("interval_self_join_banded", _INTERVAL_1H_ORACLE, tags=["joins"])
def q_interval_self_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe twin of interval_self_join: the 1 h band is folded into
    the equi-join key as a time bucket, so a hot user's pairs spread over
    (user, bucket) reducers instead of one — same result set (same
    oracle), the physical distribution that survives a hot key at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = rel.interval_join_banded(
        views, purchases, key="user_id", left_ts="ts", right_ts="ts",
        upper="1 hour",
    )
    return joined.select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
    )


@register(
    "interval_join_streaming", _INTERVAL_1H_ORACLE, tags=["joins", "streaming"]
)
def q_interval_join_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 through Structured Streaming, driver-surfaced: watermarked
    symmetric-hash stream-stream join of views→purchases within 1 h,
    append mode + parquet sink. Inner-join matches emit as soon as both
    rows are present (the watermark bounds join STATE — each side's rows
    are evicted once the other side's watermark passes their band — not
    emission), so the drained availableNow result equals the batch
    interval join bit-for-bit, which is what the oracle checks. State at
    scale: O(rows within the 1 h band per side), never the full stream."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    def side(event_type: str):
        return (
            stream_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "1 second")
        )

    joined = rel.interval_join(
        side("view"), side("purchase"),
        key="user_id", left_ts="ts", right_ts="ts",
        lower="0 seconds", upper="1 hour",
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
    )
    # INNER join: every match emits on the data batch where both rows
    # are present; the trailing no-data batch only evicts state and
    # emits nothing (r16 measured it at 1.2-1.6 s of pure state-store
    # commit cycle) — skip it. The outer-join twins MUST keep it: their
    # null-padded rows emit exactly when the watermark closes a band.
    return run_append_to_parquet(spark, joined, final_no_data_batch=False)


@register(
    "interval_join_left_outer_streaming",
    """
    WITH v AS (SELECT * FROM events
               WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-29'),
         p AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT v.event_id AS view_id,
           coalesce(p.event_id, -1) AS purchase_id,
           v.user_id AS user_id
    FROM v LEFT JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    tags=["joins", "streaming"],
)
def q_interval_join_left_outer_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: views with their purchase
    within 1 h, or a -1 sentinel if none came. Outer rows are emitted on
    state EVICTION — only when the watermark passes view.ts + 1 h does
    Spark know no match can arrive — so a bounded drain flushes exactly
    the left rows whose band closed before the final watermark. The
    left side is clipped to ts < Jan 29 (the frozen table runs through
    Jan 30 at every SF), leaving ≥1 day of margin, which makes the
    drained result equal the batch LEFT JOIN the oracle runs. State at
    scale stays O(rows in the 1 h band per side)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    def side(event_type: str):
        return (
            stream_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "1 second")
        )

    views = side("view").filter(
        F.col("ts") < F.lit("2024-01-29").cast("timestamp")
    )
    joined = rel.interval_join(
        views, side("purchase"),
        key="user_id", left_ts="ts", right_ts="ts",
        lower="0 seconds", upper="1 hour", how="left_outer",
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.coalesce(F.col("r.event_id"), F.lit(-1)).alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
    )
    return run_append_to_parquet(spark, joined)


@register(
    "cross_join_metrics",
    """
    SELECT t.throughput_rows, l.max_value
    FROM (SELECT count(*) AS throughput_rows FROM events) t
    CROSS JOIN (SELECT max(value) AS max_value FROM events) l
    """,
    tags=["joins", "harness"],
)
def q_cross_join_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: 1x1 cross join combining metric rows
    (YahooBenchmark.scala:63 throughput.crossJoin(latency))."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.agg(F.count(F.lit(1)).alias("throughput_rows"))
    l = ev.agg(F.max("value").alias("max_value"))
    return rel.cross_join(t, l)


@register(
    "top_k_users",
    """
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id ASC LIMIT 5
    """,
    tags=["relational"],
)
def q_top_k_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 top-k: per-partition heaps + single reduce
    (TakeOrderedAndProject), the distributed analog of the reference's
    min-heap comparators (sbx/Values.h:1714-1731)."""
    ev = load_table(spark, sf_dir, "events")
    counts = agg_ops.grouped_agg(ev, ["user_id"], [F.count(F.lit(1)).alias("n_events")])
    return rel.top_k(counts, [F.desc("n_events"), F.asc("user_id")], 5)


@register(
    "global_percentiles",
    """
    SELECT
        min(value) AS min_v,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 / count(*) AS avg_v,
        round(quantile_cont(value, 0.95), 4) AS p95_v,
        round(quantile_cont(value, 0.99), 4) AS p99_v,
        max(value) AS max_v
    FROM events
    """,
    tags=["aggregates", "harness"],
)
def q_global_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the latency-report aggregate (min/avg/p95/p99/max,
    SparkYahooRunner.scala:139-144). Exact percentile here so the oracle
    hash-matches; the bench harness uses percentile_approx as the
    reference does. min/max are exact (no arithmetic); avg is computed as
    integer-cents sum / count so both engines do one identical IEEE
    division. Percentiles come from the DISTRIBUTED sort operator
    (aggregates.exact_percentiles_sorted: range-partitioned parallel
    sort + rank pick + interpolation) — Spark's ``percentile()`` would
    buffer the whole column in one executor, the per-group collect this
    engine bans; results are bit-identical (same IEEE interpolation on
    the same sorted values). The two 1-row frames meet in a J4 cross
    join."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    plain = ev.agg(
        F.min("value").alias("min_v"),
        (F.sum(cents).cast("double") / 100.0 / F.count(F.lit(1))).alias("avg_v"),
        F.max("value").alias("max_v"),
    )
    pct = agg_ops.exact_percentiles_sorted(
        ev, "value", {"p95_raw": 0.95, "p99_raw": 0.99}
    )
    return rel.cross_join(plain, pct).select(
        "min_v",
        "avg_v",
        F.round(F.col("p95_raw"), 4).alias("p95_v"),
        F.round(F.col("p99_raw"), 4).alias("p99_v"),
        "max_v",
    )


@register(
    "grouped_max",
    """
    SELECT user_id, event_type, epoch_ms(max(ts)) AS max_ts_ms,
           max(value) AS max_value
    FROM events GROUP BY user_id, event_type
    """,
    tags=["aggregates"],
)
def q_grouped_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: batch grouped max (SparkYahooRunner.scala:136-137)."""
    ev = load_table(spark, sf_dir, "events")
    return agg_ops.grouped_agg(
        ev,
        ["user_id", "event_type"],
        [
            F.unix_millis(F.max("ts")).alias("max_ts_ms"),
            F.max("value").alias("max_value"),
        ],
    )


@register(
    "json_roundtrip",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    tags=["scalar"],
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5: JSON parse of the props payload (the reference round-trips
    rows through JSON on the Kafka path, SparkYahooRunner.scala:77,132-135)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )


@register(
    "ip_pack_pairs",
    """
    WITH ip AS (
        SELECT event_id,
               '10.' || CAST(event_id % 256 AS VARCHAR)
               || '.' || CAST((event_id // 256) % 256 AS VARCHAR)
               || '.' || CAST((event_id // 65536) % 256 AS VARCHAR)
               || '-172.' || CAST(user_id % 256 AS VARCHAR)
               || '.' || CAST((user_id // 256) % 256 AS VARCHAR)
               || '.' || CAST((user_id // 65536) % 256 AS VARCHAR)
               AS ip_pair
        FROM events
    ),
    halves AS (
        SELECT event_id, ip_pair,
               string_split(ip_pair, '-') AS hv
        FROM ip
    ),
    octs AS (
        SELECT event_id, ip_pair,
               string_split(hv[1], '.') AS o1,
               string_split(hv[2], '.') AS o2
        FROM halves
    )
    SELECT event_id, ip_pair,
           (CAST(o1[1] AS BIGINT) * 16777216 + CAST(o1[2] AS BIGINT) * 65536
            + CAST(o1[3] AS BIGINT) * 256 + CAST(o1[4] AS BIGINT)) * 4294967296
           + CAST(o2[1] AS BIGINT) * 16777216 + CAST(o2[2] AS BIGINT) * 65536
           + CAST(o2[3] AS BIGINT) * 256 + CAST(o2[4] AS BIGINT) AS packed
    FROM octs
    """,
    tags=["scalar"],
)
def q_ip_pack_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: "a.b.c.d-e.f.g.h" IP-pair → u64 packing (reference
    convert_ip_pair, sbx/YahooBenchmarkSource.h:171-202). events carries
    no IP column, so a deterministic dotted-quad pair is derived from
    event_id/user_id first — the parse-and-pack under test is the string
    path, exactly the reference's input shape."""
    from streambench_spark.operators.scalars import ip_pair_pack

    ev = load_table(spark, sf_dir, "events")
    did, uid = F.col("event_id"), F.col("user_id")
    pair = F.concat(
        F.lit("10."), (did % 256).cast("string"),
        F.lit("."), F.expr("event_id DIV 256 % 256").cast("string"),
        F.lit("."), F.expr("event_id DIV 65536 % 256").cast("string"),
        F.lit("-172."), (uid % 256).cast("string"),
        F.lit("."), F.expr("user_id DIV 256 % 256").cast("string"),
        F.lit("."), F.expr("user_id DIV 65536 % 256").cast("string"),
    )
    return ev.select("event_id", pair.alias("ip_pair")).select(
        "event_id", "ip_pair", ip_pair_pack(F.col("ip_pair")).alias("packed")
    )


_TEXT_SOURCE_ORACLE = """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_value_cents,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           epoch_ms(max(ts)) AS max_ts_ms
    FROM events GROUP BY 1
    """


def _text_source_query(fmt: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from streambench_spark.sources.replay import roundtrip_table

        ev = roundtrip_table(spark, sf_dir, "events", fmt)
        return ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
            F.sum(
                F.get_json_object(F.col("props"), "$.k").cast("long")
            ).alias("sum_k"),
            F.unix_millis(F.max("ts")).alias("max_ts_ms"),
        )

    kind = (
        "text serialization (quoting, escaping, float round-trip)"
        if fmt in ("csv", "json")
        else "the columnar binary encoding"
    )
    q.__doc__ = (
        f"S7 format breadth: events round-tripped through a {fmt.upper()} "
        "file source (the reference preloads CSV) and aggregated — counts,"
        " integer-cents sums, JSON payload extraction, and max event time "
        f"must all survive {kind}. Oracle runs on the original parquet: "
        "any fidelity loss hash-mismatches."
    )
    return q


REGISTRY["events_csv_source"] = QueryDef(
    fn=_text_source_query("csv"), oracle=_TEXT_SOURCE_ORACLE, tags=["sources"]
)
REGISTRY["events_json_source"] = QueryDef(
    fn=_text_source_query("json"), oracle=_TEXT_SOURCE_ORACLE, tags=["sources"]
)
REGISTRY["events_orc_source"] = QueryDef(
    fn=_text_source_query("orc"), oracle=_TEXT_SOURCE_ORACLE, tags=["sources"]
)


@register(
    "events_partitioned_source",
    """
    SELECT count(*) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents,
           epoch_ms(max(ts)) AS max_ts_ms
    FROM events WHERE event_type = 'view'
    """,
    tags=["sources", "layout"],
)
def q_events_partitioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned-layout roundtrip: events rewritten partitioned by
    event_type, read back through partition discovery, filtered and
    aggregated. The aggregate must match the unpartitioned oracle
    exactly, proving the layout rewrite loses nothing.

    Round-7 bisect of the r04/r05/r06 driver-only hash mismatch: the
    filter runs on ``event_type_d`` — a byte-identical copy of the
    partition column carried INSIDE the data files — so the one surface
    three rounds of wire hardening could not isolate (the partition
    value round-tripping through a DIRECTORY NAME re-parsed by partition
    discovery) is excluded from the output path. Partition pruning
    itself stays separately proven by a direct partition-column filter
    in tests/test_plans.py (test_partitioned_source_prunes_partitions);
    if this row greens in CORRECTNESS_r07, the divergence is isolated to
    partition-value readback in the driver's session; a fourth red
    eliminates every Spark-side surface."""
    from streambench_spark.sources.replay import partitioned_roundtrip_table

    ev = partitioned_roundtrip_table(
        spark, sf_dir, "events", "event_type", data_copy_col="event_type_d"
    )
    return ev.filter(F.col("event_type_d") == "view").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        F.unix_millis(F.max("ts")).alias("max_ts_ms"),
    )


@register("ysb_sql", ysb_oracle_sql(3600), tags=["ysb", "sql"])
def q_ysb_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-surface parity: THE query expressed through the SQL frontend
    (spark.sql over temp views) instead of the DataFrame builder. After
    analysis this is the same logical plan as q_ysb, so Catalyst emits
    the identical broadcast-join + partial-agg physical plan — the
    DataFrame API and SQL are two frontends to one engine, which is the
    Spark-first answer to the reference's per-engine query rewrites."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("sb_ysb_events")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sb_ysb_customer")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(c) */
            unix_millis(window(e.ts, '1 hour').start) AS time_window,
            c.c_mktsegment AS segment,
            count(*) AS count,
            unix_millis(max(e.ts)) AS last_update_ms
        FROM sb_ysb_events e
        JOIN sb_ysb_customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'view'
        GROUP BY window(e.ts, '1 hour'), c.c_mktsegment
        """
    )


# ---------------------------------------------------------------------------
# Generator coverage (S1/S6): driver-checked, not just pytest-checked
# ---------------------------------------------------------------------------

_UUID_SHAPED_DUCK = (
    "concat_ws('-', substring(md5(CAST({v} AS VARCHAR)), 1, 8), "
    "substring(md5(CAST({v} AS VARCHAR)), 9, 4), "
    "substring(md5(CAST({v} AS VARCHAR)), 13, 4), "
    "substring(md5(CAST({v} AS VARCHAR)), 17, 4), "
    "substring(md5(CAST({v} AS VARCHAR)), 21, 12))"
)


def _generator_oracle(num_events: int, flink_quirk: bool) -> str:
    """DuckDB replication of gen_campaigns(10, 2) + gen_events_batch:
    same md5-derived uuid-shaped ad ids, same sorted-ad idx assignment,
    same modulo attribute/timestamp derivations (base 2024-01-01 UTC,
    1000 events/s)."""
    ts = (
        "1704067200000 + (e.event_idx // 1000) * 1000"
        if flink_quirk
        else "1704067200000 + e.event_idx"
    )
    uuid = _UUID_SHAPED_DUCK.format(v="c.i * 2 + a.i")
    return f"""
    WITH ads AS (
        SELECT {uuid} AS ad_id
        FROM (SELECT unnest(range(10)) AS i) c
        CROSS JOIN (SELECT unnest(range(2)) AS i) a
    ),
    idx AS (SELECT ad_id, row_number() OVER (ORDER BY ad_id) - 1 AS idx FROM ads),
    ev AS (SELECT unnest(range({num_events})) AS event_idx)
    SELECT e.event_idx AS event_idx,
           i.ad_id AS ad_id,
           ['banner','modal','sponsored-search','mail','mobile'][(e.event_idx % 5) + 1]
               AS ad_type,
           ['view','click','purchase'][(e.event_idx % 3) + 1] AS event_type,
           {ts} AS ts_ms
    FROM ev e JOIN idx i ON i.idx = e.event_idx % 20
    """


def _generator_query(flink_quirk: bool, num_events: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from streambench_spark.catalog import _ensure_session_confs
        from streambench_spark.sources import generators as gen

        # no table load happens here, so apply the session confs (UTC)
        # explicitly — the base-ts literal must parse as UTC on ANY
        # caller-provided session for the oracle's epoch math to match
        _ensure_session_confs(spark)
        c = gen.gen_campaigns(spark, 10, 2)
        e = gen.gen_events_batch(spark, c, num_events, flink_ts_quirk=flink_quirk)
        return e.select(
            "event_idx",
            "ad_id",
            "ad_type",
            "event_type",
            F.unix_millis("event_time").alias("ts_ms"),
        )

    return q


REGISTRY["generator_events"] = QueryDef(
    fn=_generator_query(False, 1000),
    oracle=_generator_oracle(1000, False),
    tags=["generators"],
)
# S6: Flink EventGenerator timestamp quirk (refresh once per 1000 rows)
REGISTRY["generator_events_flink"] = QueryDef(
    fn=_generator_query(True, 2500),
    oracle=_generator_oracle(2500, True),
    tags=["generators"],
)


@register(
    "kafka_wire_roundtrip",
    """
    SELECT CAST(user_id AS VARCHAR) AS key_str,
           CAST(event_id % 32 AS INTEGER) AS "partition",
           event_id AS "offset",
           event_id, user_id, event_type,
           epoch_ms(ts) AS ts_ms,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
    """,
    tags=["kafka", "scalar"],
)
def q_kafka_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 wire-path proof without a broker: build records in the EXACT
    Kafka source schema (key/value binary, topic string, partition int,
    offset long, timestamp, timestampType int — what
    ``spark.read.format("kafka")`` returns), then decode through
    sources.kafka.decode_json_rows, carrying the broker metadata through
    the decode the way the reference's latency read-back does
    (SparkYahooRunner.scala:127-135: batch-read the output topic, decode
    the JSON value, keep the broker timestamp). The payload is serialized
    with the reference's Kafka sink shape, to_json(struct(...)) (S2/S3,
    YahooBenchmarkRunner.scala:40-47); value goes through cents (long) so
    the roundtrip is over exact integer/string JSON types."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from streambench_spark.sources.kafka import decode_json_rows

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    payload = F.to_json(
        F.struct("event_id", "user_id", "event_type", "ts_ms", "value_cents")
    )
    # the Kafka source's exact column set and types
    raw = ev.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.lit("events-out").alias("topic"),
        (F.col("event_id") % 32).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.timestamp_millis(F.col("ts_ms")).alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts_ms", LongType()),
            StructField("value_cents", LongType()),
        ]
    )
    return decode_json_rows(
        raw.withColumn("key_str", F.col("key").cast("string")),
        schema,
        keep=("key_str", "partition", "offset"),
    )


@register(
    "session_windows_edges",
    """
    WITH base AS (
        SELECT event_id % 8 AS user_id, event_id // 8 AS k
        FROM events WHERE event_id < 512
    ), stamped AS (
        SELECT user_id,
               1704067200 + (k // 4) * 5401
               + CASE k % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
                            WHEN 2 THEN 1800 ELSE 3600 END AS sec
        FROM base
    ), ordered AS (
        SELECT user_id, sec,
               lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS prev_sec
        FROM stamped
    ), marked AS (
        SELECT user_id, sec,
               CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ), sessions AS (
        SELECT user_id, sec,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY sec
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id,
           min(sec) * 1000 AS session_start,
           (max(sec) + 1800) * 1000 AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=["windows"],
)
def q_session_windows_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 merge edge-cases: the reference's session merge logic
    (sbx/Values.h:1484-1528,1599-1664 — gap-touching handling and
    start-extension on merge) exercised on a deterministic fixture derived
    from event_id, with per-user event offsets cycling through deltas of
    {1 s (adjacent), 1799 s (just under the 30 min gap), 1800 s (exactly
    the gap), 1801 s (just over)}. Semantics pinned — measured, not
    assumed: Spark's session_window merges on EXACT TOUCH (an event
    landing exactly at the previous session's extended end EXTENDS it;
    only delta > gap breaks), which is the reference's extend-on-touch
    merge. The oracle's per-event gaps-and-islands rule (break iff
    delta > gap, strictly) is equivalent to Spark's window-overlap rule
    (merge iff next.start <= prev_max + gap), and this fixture hits the
    boundary on both sides. Writing the break as `>=` passes on organic
    data (exact-gap deltas never occur at µs resolution) but fails here —
    the reason this fixture exists; the other session oracles were
    aligned to strict `>` accordingly.

    Each 4-event cycle at offsets {0, 1, 1800, 3600} s merges into ONE
    session (the 1800→3600 hop touches exactly) ending at 5400 s; the
    next cycle starts 1801 s later and breaks: 512 events → 8 users ×
    16 cycles = 128 rows of n_events=4. Timestamps are built from epoch
    seconds on both sides, so the check is timezone-free."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 512)
    k = F.floor(F.col("event_id") / F.lit(8))
    cum = (
        F.when(k % 4 == 0, 0)
        .when(k % 4 == 1, 1)
        .when(k % 4 == 2, 1800)
        .otherwise(3600)
    )
    off = F.floor(k / F.lit(4)) * 5401 + cum
    base = ev.select(
        (F.col("event_id") % 8).alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + off).alias("ts"),
    )
    out = win.session_windowed_agg(
        base,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


# LLM-data-pipeline + TPC-H-style entries register themselves on import
# (bottom of file so `register` exists; the partial-module cycle is benign).
from streambench_spark.plans import analytics_queries  # noqa: E402, F401
from streambench_spark.plans import llm_queries  # noqa: E402, F401
from streambench_spark.plans import tpch_queries  # noqa: E402, F401


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def _zorder_oracle() -> str:
    def spread(x: str) -> str:
        s = f"({x} & 65535)"
        for shift, mask in ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765)):
            s = f"(({s} | ({s} << {shift})) & {mask})"
        return s

    a = spread("user_id")
    b = spread("CAST(round(value * 100) AS BIGINT)")
    return f"""
    SELECT event_id, CAST({a} | ({b} << 1) AS BIGINT) AS zval
    FROM events
    """


@register("zorder_layout_keys", _zorder_oracle(), tags=["scalar", "layout"])
def q_zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (user_id, value-cents): the sort/
    range-partition key that clusters a table in BOTH dimensions so
    parquet min/max stats prune selective predicates on either column
    (operators/scalars.py:zorder_key). Pure bitwise codegen over the
    scan — the write-side usage is `df.repartitionByRange(n, "zval")
    .sortWithinPartitions("zval").write...`."""
    from streambench_spark.operators.scalars import zorder_key

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_key(
            F.col("user_id"), F.round(F.col("value") * 100).cast("long")
        ).cast("long").alias("zval"),
    )


@register(
    "interval_join_full_outer_streaming",
    """
    WITH v AS (SELECT * FROM events
               WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-29'),
         p AS (SELECT * FROM events
               WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-29')
    SELECT coalesce(v.event_id, -1) AS view_id,
           coalesce(p.event_id, -1) AS purchase_id,
           coalesce(v.user_id, p.user_id) AS user_id
    FROM v FULL JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    tags=["joins", "streaming"],
)
def q_interval_join_full_outer_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the last J3 join-type:
    matched view→purchase pairs plus -1-sentinel rows for views with no
    purchase AND purchases with no prior view. Unmatched rows on EITHER
    side emit only at state eviction, so BOTH sides are clipped to
    ts < Jan 29 (≥1 day inside the frozen table's range) — the final
    watermark then provably passes every row's join band and the drained
    result equals the batch FULL JOIN the oracle runs. State stays
    O(rows in the 1 h band per side), same as the inner/left variants."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    def side(event_type: str):
        # clip AFTER the watermark node: the watermark keeps tracking the
        # unclipped stream (through Jan 30), so every clipped row's join
        # band provably closes and its outer emission flushes on drain
        return (
            stream_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "1 second")
            .filter(F.col("ts") < F.lit("2024-01-29").cast("timestamp"))
        )

    joined = rel.interval_join(
        side("view"), side("purchase"),
        key="user_id", left_ts="ts", right_ts="ts",
        lower="0 seconds", upper="1 hour", how="full_outer",
    ).select(
        F.coalesce(F.col("l.event_id"), F.lit(-1)).alias("view_id"),
        F.coalesce(F.col("r.event_id"), F.lit(-1)).alias("purchase_id"),
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
    )
    return run_append_to_parquet(spark, joined)


def _dynamic_gap_oracle(streaming: bool = False) -> str:
    """Interval-union sweep for PER-EVENT-gap sessions, single-sourced so
    the merge boundary rule exists in exactly one place for both the
    batch and streaming registrations (the round-4 review caught the two
    copies carrying an identical `>=` bug). The break is STRICT
    `ts_ms > prev_end`: Spark's session_window — fixed and dynamic gap
    alike — merges on EXACT TOUCH (an event landing exactly at the
    running max of prior session ends EXTENDS the session; measured, see
    session_windows_edges and test_dynamic_gap_exact_touch_merges)."""
    wm = "wm AS (SELECT epoch_ms(max(ts)) - 1000 AS wm_ms FROM events),\n    " if streaming else ""
    having = (
        "\n    HAVING session_end <= (SELECT wm_ms FROM wm)" if streaming else ""
    )
    return f"""
    WITH {wm}g AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms,
               CASE event_type WHEN 'purchase' THEN 3600000
                               WHEN 'view' THEN 600000
                               ELSE 1200000 END AS gap_ms
        FROM events
    ),
    swept AS (
        SELECT user_id, ts_ms, gap_ms,
               max(ts_ms + gap_ms) OVER (
                   PARTITION BY user_id ORDER BY ts_ms
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_end
        FROM g
    ),
    marked AS (
        SELECT user_id, ts_ms, gap_ms,
               CASE WHEN prev_end IS NULL OR ts_ms > prev_end
                    THEN 1 ELSE 0 END AS new_session
        FROM swept
    ),
    sessions AS (
        SELECT user_id, ts_ms, gap_ms,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_ms
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts_ms) AS session_start,
           max(ts_ms + gap_ms) AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid{having}
    """


def _dynamic_gap_col():
    # built lazily: Column construction needs an active SparkContext,
    # which doesn't exist at module import time
    return (
        F.when(F.col("event_type") == "purchase", F.lit("60 minutes"))
        .when(F.col("event_type") == "view", F.lit("10 minutes"))
        .otherwise(F.lit("20 minutes"))
    )


@register("session_windows_dynamic_gap", _dynamic_gap_oracle(), tags=["windows"])
def q_session_windows_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 with a PER-EVENT gap (Spark dynamic session_window): purchases
    hold a session open 60 min, views 10, everything else 20 — the
    engagement-weighted sessionization the fixed-gap variant can't
    express. The oracle is the interval-union sweep (cumulative max of
    prior session ends, break strictly past it — Spark merges on exact
    touch, same as the fixed-gap window). Same plan as fixed-gap: one
    shuffle on user_id, per-key merge state.

    Sessionization grain is the contract's epoch-MILLISECOND (the
    oracle sweeps epoch_ms values): events carry µs timestamps, and an
    event landing 1 µs past a session end inside the same millisecond
    breaks at µs grain but touches at ms grain, so the µs fraction is
    truncated BEFORE the session window (r14 universe-fuzz find; the
    fixed-gap twins are unaffected — their oracles subtract raw µs
    timestamps). Organic sf data never puts an event inside a boundary
    millisecond (sweeps re-proven bit-identical), but corpus-density
    streams would."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts")))
    )
    out = win.session_windowed_agg(
        ev,
        "ts",
        _dynamic_gap_col(),
        keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


@register(
    "events_schema_evolution_source",
    """
    SELECT event_id,
           CASE WHEN event_id % 2 = 1
                THEN CAST(round(value * 100) AS BIGINT)
                ELSE -1 END AS bonus_cents
    FROM events
    """,
    tags=["sources"],
)
def q_events_schema_evolution_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source breadth: mixed-schema-version parquet read. Half the table
    is rewritten WITHOUT and half WITH an added bonus_cents column;
    mergeSchema=true scans both generations as one frame, old files
    yielding NULL for the new column (surfaced as -1 — outputs stay
    NULL-free for the comparator)."""
    from streambench_spark.sources.replay import schema_evolution_roundtrip

    df = schema_evolution_roundtrip(spark, sf_dir, "events")
    return df.select(
        "event_id", F.coalesce(F.col("bonus_cents"), F.lit(-1)).alias("bonus_cents")
    )


@register(
    "observed_metrics",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_views,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    """,
    tags=["harness", "metrics"],
)
def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-family via Spark's Observation API (the declarative successor to
    accumulator counters): metrics piggyback on the query's OWN pass —
    `.observe()` attaches aggregates to the plan and the listener
    delivers them when the action completes, so instrumenting a
    production pipeline costs ZERO extra scans (the reference's
    ThroughputLogger flatMap — YahooBenchmark.scala:109-141 — pays a
    per-record closure for the same telemetry). The observed values are
    returned as the result frame to make them oracle-checkable."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("ev_metrics")
    instrumented = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("event_type") == "view").cast("long")).alias("n_views"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )
    instrumented.write.format("noop").mode("overwrite").save()
    got = obs.get
    return spark.createDataFrame(
        [(got["n_rows"], got["n_views"], got["sum_cents"])],
        "n_rows long, n_views long, sum_cents long",
    )


@register(
    "compacted_events_source",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
    tags=["sources", "sinks"],
)
def q_compacted_events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round trip: the events table is first
    shattered into 64 files (a streaming sink's worth of fragments),
    compacted back to ~target-size files via the shuffle-free coalesce
    path (sinks.compact_small_files), and read from the compacted
    layout — proving compaction is content-neutral. The file-count
    assertions live in tests/test_streaming.py; here the oracle checks
    the bytes."""
    import tempfile as _tf

    from streambench_spark.sinks.sinks import compact_small_files

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    frag = _tf.mkdtemp(prefix="sb_frag_")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    dst = _tf.mkdtemp(prefix="sb_compact_")
    compact_small_files(spark, frag, dst, target_mb=128)
    return spark.read.parquet(dst)


@register(
    "session_windows_dynamic_gap_streaming",
    _dynamic_gap_oracle(streaming=True),
    tags=["streaming", "windows"],
)
def q_session_windows_dynamic_gap_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic-gap session windows through Structured Streaming: the
    per-event gap column drives the state-store session merge, append
    mode emits sessions only when the watermark passes their (dynamic)
    end — the engagement-weighted sessionization running with evicting
    state. Oracle = the shared interval-union sweep with the
    watermark-finalized cutoff of the fixed-gap streaming twin.
    Same ms-grain truncation as the batch twin (the oracle sweeps
    epoch_ms; see q_session_windows_dynamic_gap) — applied before the
    watermark, whose ms floor it equals (floor is monotonic)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    stream = stream_table(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts")))
    )
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(
            F.session_window(F.col("ts"), _dynamic_gap_col()).alias("w"),
            F.col("user_id"),
        )
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
    "recursive_date_spine",
    """
    WITH RECURSIVE bounds AS (
        SELECT CAST(epoch_ms(min(ts)) // 86400000 AS BIGINT) AS d0,
               CAST(epoch_ms(max(ts)) // 86400000 AS BIGINT) AS d1
        FROM events
    ),
    spine(d) AS (
        SELECT d0 FROM bounds
        UNION ALL
        SELECT d + 1 FROM spine, bounds WHERE d < d1
    ),
    agg AS (
        SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.d * 86400000 AS bucket_ms, coalesce(a.n, 0) AS n_purchases
    FROM spine s LEFT JOIN agg a ON a.d = s.d
    """,
    tags=["sql", "timeseries"],
)
def q_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-frontier breadth: WITH RECURSIVE (Spark 4) generating the
    daily spine between the table's min and max day, left-joined to
    purchase counts — the recursive twin of timeseries_gapfill's
    sequence() spine; the oracle runs the recursion over a bounds CTE.
    The recursion depth is the day span (bounded by the calendar, not
    the data volume); the fact contributes one aggregate.

    r15 optimization (guide §1.2/§2.4): the original recursive term was
    ``FROM spine, bounds WHERE d < d1`` with ``bounds`` an aggregate
    over events — Spark re-evaluated the bounds subtree inside EVERY
    recursion step (219 jobs, 6.4 s clean / 13-34 s under steal noise
    for a 30-day span; each step re-aggregated the fact). The two
    scalars are corpus-size-INDEPENDENT (one min/max row), so they are
    fetched with one bounded O(1)-row action and inlined as literals:
    the recursive step becomes a self-referential 1-row map, events is
    aggregated exactly twice (bounds + purchase counts), and the same
    30-row spine emerges from ~30 trivial jobs (measured 0.9-1.5 s,
    rows bit-identical; plans/r15/recursive_date_spine_{before,after}).
    An empty table inlines NULL bounds: the seed row is NULL and
    ``d < NULL`` never recurses — exactly the all-CTE plan's output."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    r = spark.sql(
        """
        SELECT CAST(unix_millis(min(ts)) DIV 86400000 AS BIGINT) AS d0,
               CAST(unix_millis(max(ts)) DIV 86400000 AS BIGINT) AS d1
        FROM events
        """
    ).first()
    d0 = "NULL" if r["d0"] is None else str(int(r["d0"]))
    d1 = "NULL" if r["d1"] is None else str(int(r["d1"]))
    return spark.sql(
        f"""
        WITH RECURSIVE spine(d) AS (
            SELECT CAST({d0} AS BIGINT) AS d
            UNION ALL
            SELECT d + 1 FROM spine WHERE d < {d1}
        ),
        agg AS (
            SELECT CAST(unix_millis(ts) DIV 86400000 AS BIGINT) AS d,
                   count(*) AS n
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT s.d * 86400000 AS bucket_ms, coalesce(a.n, CAST(0 AS BIGINT)) AS n_purchases
        FROM spine s LEFT JOIN agg a ON a.d = s.d
        """
    )


@register(
    "variant_json_extract",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS BIGINT)
               AS k_bucket
    FROM events
    """,
    tags=["sql", "semistructured"],
)
def q_variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns through Spark 4's VARIANT type:
    parse_json once, then typed variant_get extractions — the
    open-schema path that replaces per-access string re-parsing
    (get_json_object) with a parsed binary encoding; the shredded
    access pattern a lakehouse uses for telemetry columns."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id", F.expr("parse_json(props)").alias("pv")
    )
    return v.select(
        "event_id",
        F.expr("variant_get(pv, '$.k', 'bigint')").alias("k"),
        (F.expr("variant_get(pv, '$.k', 'bigint')") % 10).alias("k_bucket"),
    )


@register(
    "lateral_top_orders",
    """
    SELECT c.c_custkey, t.o_orderkey, t.total_cents
    FROM customer c,
    LATERAL (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 2
    ) t
    """,
    tags=["sql", "joins"],
)
def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer) — the
    SQL-standard spelling of per-group TopK, run as the same text in
    both engines. Catalyst decorrelates the lateral into the
    window-rank plan (DecorrelateInnerQuery), so it costs the same one
    shuffle as the explicit row_number() form (rank_top_orders_per_
    customer), which stays the API-level twin."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.total_cents
        FROM customer c,
        LATERAL (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 2
        ) t
        """
    )


@register(
    "collated_event_types",
    """
    SELECT lower(etype_mixed) AS etype, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                    ELSE event_type END AS etype_mixed
        FROM events
    )
    GROUP BY 1
    """,
    tags=["sql", "strings"],
)
def q_collated_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 COLLATE): a synthesized
    mixed-case type column groups case-insensitively under UTF8_LCASE —
    the collation engine does what ad-hoc lower() wrapping did, and the
    comparison/hash semantics apply inside joins and aggregates
    engine-wide. The oracle is the lower() rewrite (DuckDB collations
    don't reach GROUP BY keys portably); output is lowercased on both
    sides for a stable display form."""
    ev = load_table(spark, sf_dir, "events")
    # Plain upper/lower are safe HERE only because event_type is an
    # ASCII enum (validate_events membership rule) — all-ASCII strings
    # take Spark's locale-free byte path. Free-text columns must go
    # through hashing.locale_free_lower_sql instead (JVM-default-locale
    # hazard on the non-ASCII slow path).
    mixed = ev.select(
        F.when(
            F.col("event_id") % 2 == 0, F.upper(F.col("event_type"))
        )
        .otherwise(F.col("event_type"))
        .alias("etype_mixed")
    )
    return (
        mixed.select(F.expr("etype_mixed COLLATE UTF8_LCASE").alias("etype_ci"))
        .groupBy("etype_ci")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lower(F.col("etype_ci")).alias("etype"), "n")
    )


@register(
    "snapshot_diff",
    """
    WITH v1 AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
                FROM events),
    v2 AS (SELECT event_id,
                  CASE WHEN event_id % 100 = 0 THEN cents * 2 ELSE cents END
                      AS cents
           FROM v1 WHERE event_id % 97 <> 0
           UNION ALL
           SELECT event_id + 10000000, cents FROM v1 WHERE event_id % 101 = 0),
    d AS (
        SELECT coalesce(v1.event_id, v2.event_id) AS event_id,
               CASE WHEN v1.event_id IS NULL THEN 'added'
                    WHEN v2.event_id IS NULL THEN 'removed'
                    WHEN v1.cents <> v2.cents THEN 'changed'
                    ELSE 'unchanged' END AS change_type
        FROM v1 FULL JOIN v2 ON v1.event_id = v2.event_id
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY 1
    """,
    tags=["sinks", "quality"],
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: FULL OUTER join two table versions on
    the key and classify every row added / removed / changed / unchanged
    — the audit between a replicated copy and its source, or two
    pipeline runs. The synthetic v2 drops every 97th row, doubles every
    100th value, and inserts fresh keys so all four classes appear. One co-partitioned join on
    the key; at scale both snapshots usually share layout, so the join
    is bucketed/shuffle-free."""
    ev = load_table(spark, sf_dir, "events")
    v1 = ev.select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    v2 = (
        v1.filter(F.col("event_id") % 97 != 0)
        .select(
            "event_id",
            F.when(F.col("event_id") % 100 == 0, F.col("cents") * 2)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionAll(
            v1.filter(F.col("event_id") % 101 == 0).select(
                (F.col("event_id") + 10000000).alias("event_id"), "cents"
            )
        )
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.expr("a.event_id = b.event_id"), "full_outer"
    )
    ct = (
        F.when(F.col("a.event_id").isNull(), "added")
        .when(F.col("b.event_id").isNull(), "removed")
        .when(F.col("a.cents") != F.col("b.cents"), "changed")
        .otherwise("unchanged")
    )
    return j.select(ct.alias("change_type")).groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "table_checksums",
    """
    SELECT 'events' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(CAST('0x' || substring(md5(
               CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
               || '|' || event_type || '|'
               || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
           ), 1, 15) AS BIGINT)) AS checksum
    FROM events
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT),
           bit_xor(CAST('0x' || substring(md5(
               CAST(o_orderkey AS VARCHAR) || '|'
               || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
           ), 1, 15) AS BIGINT))
    FROM orders
    UNION ALL
    SELECT 'customer', CAST(count(*) AS BIGINT),
           bit_xor(CAST('0x' || substring(md5(
               CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment
           ), 1, 15) AS BIGINT))
    FROM customer
    """,
    tags=["sinks", "quality"],
)
def q_table_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksums: XOR-fold of a portable per-row
    md5 over canonical '|'-joined columns — the replication/migration
    verification handshake two DIFFERENT engines can both compute (this
    oracle literally is the other engine computing it). XOR is
    commutative/associative, so the aggregate is partitioning-proof and
    map-side combined; 60-bit hash prefix keeps every value positive in
    signed 64-bit on both sides."""
    def cks(df: DataFrame, tbl: str, expr: str) -> DataFrame:
        h = f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(f"bit_xor({h})").alias("checksum"),
        ).select(F.lit(tbl).alias("tbl"), "n_rows", "checksum")

    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        cks(
            ev, "events",
            "concat(CAST(event_id AS STRING), '|', CAST(user_id AS STRING), "
            "'|', event_type, '|', "
            "CAST(CAST(round(value * 100) AS BIGINT) AS STRING))",
        )
        .unionAll(cks(
            o, "orders",
            "concat(CAST(o_orderkey AS STRING), '|', "
            "CAST(o_custkey AS STRING), '|', o_orderstatus)",
        ))
        .unionAll(cks(
            c, "customer",
            "concat(CAST(c_custkey AS STRING), '|', c_mktsegment)",
        ))
    )
