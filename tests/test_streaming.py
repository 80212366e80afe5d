"""Streaming semantics tests (SURVEY.md §5.2 steps 2 + 5):
- streaming ≡ batch equivalence over the frozen events table
- watermark late-data drop (append) vs revision (update)
- generator determinism and shape
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from streambench_spark.catalog import load_table
from streambench_spark.plans.ysb import ysb_query
from streambench_spark.sources import generators as gen
from streambench_spark.sources.replay import stream_table
from streambench_spark.streaming.ysb import run_to_memory, ysb_streaming
from tests.conftest import SF_DIR


_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_equals_batch(spark):
    """complete-mode availableNow run over the frozen table == batch."""
    events_stream = stream_table(spark, SF_DIR, "events")
    customer = load_table(spark, SF_DIR, "customer")
    out = ysb_streaming(events_stream, customer, window="1 hour", watermark=None)
    _, table = run_to_memory(out, mode="complete")
    streaming_result = spark.table(table)
    batch_result = ysb_query(
        load_table(spark, SF_DIR, "events"), customer, window="1 hour"
    )
    assert _rows(streaming_result) == _rows(batch_result)


def test_update_mode_final_state_equals_batch(spark):
    """update mode: last emission per key wins; with a single availableNow
    batch the emitted set equals the batch result."""
    events_stream = stream_table(spark, SF_DIR, "events")
    customer = load_table(spark, SF_DIR, "customer")
    out = ysb_streaming(events_stream, customer, window="1 hour", watermark=None)
    _, table = run_to_memory(out, mode="update")
    emitted = spark.table(table)
    # dedupe to final state per (window, segment): max count wins
    final = (
        emitted.groupBy("time_window", "segment")
        .agg(F.max("count").alias("count"), F.max("last_update_ms").alias("last_update_ms"))
    )
    batch_result = ysb_query(
        load_table(spark, SF_DIR, "events"), customer, window="1 hour"
    )
    assert _rows(final) == _rows(batch_result)


def test_append_mode_file_sink_emits_finalized_windows(spark):
    """Append + watermark + parquet sink == batch minus windows not yet
    finalized by the closing watermark (max event time − delay)."""
    from streambench_spark.streaming.ysb import run_append_to_parquet

    customer = load_table(spark, SF_DIR, "customer")
    appended = run_append_to_parquet(spark, ysb_streaming(
        stream_table(spark, SF_DIR, "events").filter(F.col("event_type") == "view"),
        customer,
        window="1 hour", watermark="1 second",
    ))
    ev = load_table(spark, SF_DIR, "events")
    wm_ms = (
        ev.filter(F.col("event_type") == "view")
        .agg(F.unix_millis(F.max("ts")).alias("m"))
        .collect()[0]["m"]
    ) - 1000
    batch = ysb_query(ev, customer, window="1 hour").filter(
        F.col("time_window") + 3600000 <= wm_ms
    )
    assert _rows(appended) == _rows(batch)
    assert appended.count() > 0


def test_append_mode_with_watermark_drops_late_rows(spark, tmp_path):
    """T2/T3: rows behind the watermark are dropped in append mode."""
    data = [
        # (user, ts): the late-row filter uses the PREVIOUS batch's
        # watermark, so the wm-advancing row needs one filler batch before
        # the late row for the drop to be observable.
        (1, "2024-01-01 00:00:01"),
        (1, "2024-01-01 00:00:02"),
        (1, "2024-01-01 00:00:15"),  # advances wm past window [0,10)
        (1, "2024-01-01 00:00:16"),  # filler batch: wm now in effect
        (1, "2024-01-01 00:00:03"),  # late: behind wm, must be dropped
    ]
    # one single-row file per batch (maxFilesPerTrigger=1); sleep gives
    # strictly increasing mtimes so the source processes them in order
    import time

    src = tmp_path / "late_events"
    for i, (uid, ts) in enumerate(data):
        spark.createDataFrame([(uid, ts)], "user_id long, ts_s string").withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.parquet(str(src / f"f{i}"))
        time.sleep(1.1)
    schema = "user_id long, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    agg = (
        stream.withWatermark("ts", "1 millisecond")
        .groupBy(F.window("ts", "10 seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis("w.start").alias("ws"), "user_id", "n")
    )
    _, table = run_to_memory(agg, mode="append")
    got = {(r.ws, r.n) for r in spark.table(table).collect()}
    # window [00:00:00,00:00:10) must have count 2 (late row dropped);
    # window [00:00:10,...) may or may not be emitted (wm may not pass it)
    assert (1704067200000, 2) in got
    assert (1704067200000, 3) not in got


def test_update_mode_revises_counts(spark, tmp_path):
    """T3 update-mode behavior: the same late row revises the count."""
    import time

    data = [
        (1, "2024-01-01 00:00:01"),
        (1, "2024-01-01 00:00:02"),
        (1, "2024-01-01 00:00:15"),
        (1, "2024-01-01 00:00:03"),
    ]
    src = tmp_path / "late_events_u"
    for i, (uid, ts) in enumerate(data):
        spark.createDataFrame([(uid, ts)], "user_id long, ts_s string").withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.parquet(str(src / f"f{i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    agg = (
        stream.groupBy(F.window("ts", "10 seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis("w.start").alias("ws"), "user_id", "n")
    )
    _, table = run_to_memory(agg, mode="update")
    got = {(r.ws, r.n) for r in spark.table(table).collect()}
    assert (1704067200000, 3) in got  # revised count emitted


def test_campaign_generator_shape(spark):
    c = gen.gen_campaigns(spark, 100, 10)
    assert c.count() == 1000
    assert c.select("campaign_id").distinct().count() == 100
    # reference off-by-one mode (YahooBenchmark.scala:40)
    c99 = gen.gen_campaigns(spark, 100, 10, exact=False)
    assert c99.select("campaign_id").distinct().count() == 99


def test_event_generator_deterministic(spark):
    c = gen.gen_campaigns(spark, 10, 10)
    e1 = gen.gen_events_batch(spark, c, 3000)
    e2 = gen.gen_events_batch(spark, c, 3000)
    assert _rows(e1) == _rows(e2)
    assert e1.columns == [
        "event_idx", "user_id", "page_id", "ad_id", "ad_type", "event_type",
        "event_time", "ip_address",
    ]
    # round-robin event_type → exactly 1/3 views
    views = e1.filter(F.col("event_type") == "view").count()
    assert views == 1000
    # every ad_id resolves in the dim (inner-join totality)
    assert e1.join(c, "ad_id", "left_anti").count() == 0


def test_flink_ts_quirk(spark):
    """S6: runs of 1000 records share one timestamp."""
    c = gen.gen_campaigns(spark, 10, 10)
    e = gen.gen_events_batch(spark, c, 2000, flink_ts_quirk=True)
    assert e.select("event_time").distinct().count() == 2


def test_ysb_on_generated_data_matches_manual(spark):
    """YSB semantics on generator output: equal to a hand-computed agg."""
    c = gen.gen_campaigns(spark, 10, 10)
    e = gen.gen_events_batch(spark, c, 6000, events_per_second=100)
    joined = (
        e.filter(F.col("event_type") == "view")
        .join(c, "ad_id")
        .groupBy(F.window("event_time", "10 seconds").alias("w"), "campaign_id")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    total = joined.agg(F.sum("count")).collect()[0][0]
    assert total == 2000  # 1/3 of 6000, all ads resolve


def test_salted_grouped_agg_equals_plain(spark):
    """Skew mitigation: two-phase salted aggregate == plain groupBy."""
    from streambench_spark.operators.aggregates import salted_grouped_agg

    ev = load_table(spark, SF_DIR, "events")
    plain = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    salted = salted_grouped_agg(
        ev,
        keys=["event_type"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("pcents"),
        ],
        final_aggs=[
            F.sum("pn").alias("n"),
            F.sum("pcents").alias("cents"),
        ],
        salt_buckets=8,
    )
    assert _rows(plain) == _rows(salted)


def test_stream_stream_interval_join_equals_batch(spark):
    """J3 through Structured Streaming: watermarked stream-stream join of
    views→purchases within 1h equals the batch interval join."""
    from streambench_spark.operators.relational import interval_join

    def side(event_type):
        return (
            stream_table(spark, SF_DIR, "events")
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "1 second")
        )

    joined = interval_join(
        side("view"), side("purchase"),
        key="user_id", left_ts="ts", right_ts="ts",
        lower="0 seconds", upper="1 hour",
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    _, table = run_to_memory(joined, mode="append")
    got = {(r.view_id, r.purchase_id) for r in spark.table(table).collect()}

    ev = load_table(spark, SF_DIR, "events")
    batch = interval_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        key="user_id", left_ts="ts", right_ts="ts",
        lower="0 seconds", upper="1 hour",
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    want = {(r.view_id, r.purchase_id) for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_paced_replay_streams_rows(spark):
    """S7 unbounded looping replay: rows flow at the paced rate with the
    lookup columns attached and timestamps rewritten to the replay clock."""
    from streambench_spark.sources.replay import paced_replay, with_index
    from streambench_spark.streaming.ysb import start_query

    lookup = with_index(
        load_table(spark, SF_DIR, "events").select("event_id", "user_id").limit(100),
        "event_id",
    )
    stream = paced_replay(spark, lookup, rows_per_second=500, num_partitions=2, ts_col="ts")
    table = "paced_replay_rows"
    start_query(stream, fmt="memory", mode="append", query_name=table)
    import time

    got = 0
    for _ in range(40):
        time.sleep(0.5)
        got = spark.table(table).count()
        if got >= 200:
            break
    for q in spark.streams.active:
        q.stop()
    assert got >= 200
    row = spark.table(table).first()
    assert row["user_id"] is not None and row["ts"] is not None


def test_banded_interval_join_equals_plain(spark):
    """Skew-safe banded interval join == plain interval join (lower=0)."""
    from streambench_spark.operators.relational import interval_join, interval_join_banded

    ev = load_table(spark, SF_DIR, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "event_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")

    def pairs(df):
        return {
            (r["view_id"], r["purchase_id"])
            for r in df.select(
                F.col("l.event_id").alias("view_id"),
                F.col("r.event_id").alias("purchase_id"),
            ).collect()
        }

    plain = pairs(interval_join(views, purchases, key="user_id",
                                left_ts="ts", right_ts="ts",
                                lower="0 seconds", upper="1 hour"))
    banded = pairs(interval_join_banded(views, purchases, key="user_id",
                                        left_ts="ts", right_ts="ts", upper="1 hour"))
    assert banded == plain
    assert len(plain) > 0

    # band width must be timezone-free: same result on a non-UTC session
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        banded_tz = pairs(interval_join_banded(
            views, purchases, key="user_id",
            left_ts="ts", right_ts="ts", upper="1 hour"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    assert banded_tz == plain


def test_interval_seconds_parser():
    from streambench_spark.operators.relational import _interval_seconds

    assert _interval_seconds("5 minutes") == 300.0
    assert _interval_seconds("1 hour 30 minutes") == 5400.0
    assert _interval_seconds("2 days") == 172800.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _interval_seconds("5 fortnights")
    with _pytest.raises(ValueError):
        _interval_seconds("")


def test_running_value_stats_matches_batch(spark):
    """Cumulative (sum, n, max) state drained availableNow must equal the
    plain batch aggregate regardless of batch boundaries."""
    from pyspark.sql import functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.stateful import running_value_stats
    from streambench_spark.streaming.ysb import run_to_memory

    sf = SF_DIR
    stream = stream_table(spark, sf, "events").select("user_id", "value")
    q, table = run_to_memory(running_value_stats(stream), mode="update")
    got = {
        r["user_id"]: (r["sum_cents"], r["n"], r["max_cents"])
        for r in spark.table(table).groupBy("user_id").agg(
            F.expr("max_by(sum_cents, n)").alias("sum_cents"),
            F.max("n").alias("n"),
            F.expr("max_by(max_cents, n)").alias("max_cents")).collect()
    }
    want = {
        r["user_id"]: (r["sum_cents"], r["n"], r["max_cents"])
        for r in load_table(spark, sf, "events")
        .select("user_id", F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"))
        .groupBy("user_id")
        .agg(F.sum("c").alias("sum_cents"), F.count(F.lit(1)).alias("n"),
             F.max("c").alias("max_cents")).collect()
    }
    assert got == want


def test_incremental_mv_merges_across_batches(spark, tmp_path):
    """Merge-on-read MV: partial aggregates appended per micro-batch must
    re-aggregate to the exact batch answer even when a key spans many
    batches — forced here by splitting events into 4 files streamed one
    per trigger."""
    from pyspark.sql import functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.sinks.sinks import incremental_mv_sink
    from streambench_spark.sources.replay import stream_table

    src = str(tmp_path / "events.parquet")
    load_table(spark, SF_DIR, "events").repartition(4).write.parquet(src)
    stream = stream_table(spark, str(tmp_path), "events",
                          max_files_per_trigger=1).select(
        "user_id", F.expr("CAST(round(value * 100) AS BIGINT)").alias("_cents")
    )
    mv = str(tmp_path / "mv")

    def partialize(b):
        return b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("_cents").alias("sum_cents"))

    incremental_mv_sink(stream, mv, partialize)
    partials = spark.read.parquet(mv)
    # a key split across batches must appear in >1 partial row
    dup_keys = partials.groupBy("user_id").count().filter("count > 1").count()
    assert dup_keys > 0, "expected per-key partials from multiple batches"
    got = {
        r["user_id"]: (r["n"], r["sum_cents"])
        for r in partials.groupBy("user_id")
        .agg(F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["sum_cents"])
        for r in load_table(spark, SF_DIR, "events")
        .select("user_id", F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("sum_cents"))
        .collect()
    }
    assert got == want


def test_compact_incremental_mv_preserves_result(spark, tmp_path):
    """Compaction re-aggregates the partials directory down to one file;
    the merged MV answer must be identical before and after, and the
    file count must actually drop."""
    import glob

    from pyspark.sql import functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.sinks.sinks import (
        compact_parquet_dir, incremental_mv_sink,
    )
    from streambench_spark.sources.replay import stream_table

    src = str(tmp_path / "events.parquet")
    load_table(spark, SF_DIR, "events").repartition(4).write.parquet(src)
    stream = stream_table(spark, str(tmp_path), "events",
                          max_files_per_trigger=1).select(
        "user_id", F.expr("CAST(round(value * 100) AS BIGINT)").alias("_cents")
    )
    mv = str(tmp_path / "mv")

    def partialize(b):
        return b.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("_cents").alias("sum_cents"))

    def merge(df):
        return df.groupBy("user_id").agg(
            F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))

    incremental_mv_sink(stream, mv, partialize)
    before_files = len(glob.glob(mv + "/*.parquet"))
    before = sorted(map(tuple, merge(spark.read.parquet(mv)).collect()))
    after_files = compact_parquet_dir(spark, mv, transform=merge)
    after = sorted(map(tuple, merge(spark.read.parquet(mv)).collect()))
    assert after == before
    assert after_files == 1 < before_files
    # compacted partials are one row per key now
    assert spark.read.parquet(mv).groupBy("user_id").count().filter(
        "count > 1").count() == 0


def test_periodic_stats_reporter(spark):
    """M6: the CallBackTimer-analog reporter samples recent/lifetime rates
    while a live query runs, and every batch is counted exactly once."""
    import time

    from streambench_spark.streaming.listeners import PeriodicStatsReporter

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1000)
        .option("numPartitions", 2)
        .load()
    )
    q = (
        stream.writeStream.format("noop")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    lines = []
    rep = PeriodicStatsReporter(q, interval_s=0.5, sink=lines.append).start()
    try:
        # Bounded wait-until instead of a fixed 4 s sleep: on a cold or
        # contended host the rate source's first completed batch can land
        # after 4 s, failing the rows_lifetime assert spuriously (the r15
        # open full-suite run hit exactly that). The assertions below are
        # unchanged — this only waits until they have a chance to hold.
        deadline = time.time() + 30
        while time.time() < deadline:
            got = list(rep.samples)  # live list, appended by the sampler
            if (
                len(got) >= 3
                and got[-1]["rows_lifetime"] > 0
                and any(s["recent_krec_s"] > 0 for s in got)
            ):
                break
            time.sleep(0.25)
    finally:
        samples = rep.stop()
        q.stop()
    assert len(samples) >= 3
    assert samples[-1]["rows_lifetime"] > 0
    # lifetime rows are monotone (each batch counted once)
    lifetimes = [s["rows_lifetime"] for s in samples]
    assert lifetimes == sorted(lifetimes)
    assert any(s["recent_krec_s"] > 0 for s in samples)
    assert lines and "KRec/s" in lines[-1]


def test_periodic_stats_reporter_unhooks_on_factory_failure(spark):
    """If the query factory raises, start() must unregister the listener
    and drop the pending buffer — otherwise a listener with query=None
    stays on the session bus buffering every other query's progress
    events forever (r08 advice)."""
    import pytest

    from streambench_spark.streaming.listeners import PeriodicStatsReporter

    class _Bus:
        def __init__(self):
            self.added = []
            self.removed = []

        def addListener(self, listener):
            self.added.append(listener)

        def removeListener(self, listener):
            self.removed.append(listener)

    bus = _Bus()

    def boom():
        raise RuntimeError("query failed to start")

    rep = PeriodicStatsReporter(boom, interval_s=0.5)
    rep._streams = lambda: bus
    rep._pending.append(object())  # an event racing in before the failure
    with pytest.raises(RuntimeError, match="query failed to start"):
        rep.start()
    assert bus.removed == bus.added == [rep._listener]
    assert rep._pending == []
    assert not rep._thread.is_alive()
    # the factory must be restored so a retried start() re-enters the
    # factory branch instead of registering with query permanently None
    # (ADVICE r09) — the retry fails identically, not silently
    assert rep.query is boom
    with pytest.raises(RuntimeError, match="query failed to start"):
        rep.start()
    assert rep.query is boom
    assert len(bus.added) == len(bus.removed) == 2


def test_periodic_stats_reporter_survives_listener_bus_failure(spark):
    """If addListener itself fails (e.g. _streams() raises because no
    session is active yet), start() must restore the factory too — the
    swap happens BEFORE the bus call, so a failure there would otherwise
    leave query=None and a retry would silently register a listener that
    buffers every query's progress events forever (ADVICE r10)."""
    import pytest

    from streambench_spark.streaming.listeners import PeriodicStatsReporter

    class _Bus:
        def __init__(self):
            self.added = []
            self.removed = []

        def addListener(self, listener):
            self.added.append(listener)

        def removeListener(self, listener):
            self.removed.append(listener)

    class _FakeQuery:
        id = "00000000-0000-0000-0000-000000000000"

    fake = _FakeQuery()
    started = []

    def factory():
        started.append(True)
        return fake

    rep = PeriodicStatsReporter(factory, interval_s=0.5)

    def no_session():
        raise AttributeError("'NoneType' object has no attribute 'streams'")

    rep._streams = no_session
    with pytest.raises(AttributeError, match="streams"):
        rep.start()
    # the factory never ran, was restored, and no thread is live
    assert started == []
    assert rep.query is factory
    assert not rep._thread.is_alive()

    # a session appears: the retry re-enters the factory branch and works
    bus = _Bus()
    rep._streams = lambda: bus
    assert rep.start() is rep
    assert started == [True]
    assert rep.query is fake
    assert bus.added == [rep._listener]
    rep.stop()
    assert bus.removed == [rep._listener]


def test_idempotent_sink_skips_replayed_batches(spark, tmp_path):
    """T6: a replayed batch_id (at-least-once foreachBatch after restart)
    must not duplicate rows in the committed output."""
    from streambench_spark.sinks.sinks import idempotent_parquet_sink

    out = str(tmp_path / "idem")
    stream = stream_table(spark, SF_DIR, "events").select("event_id")
    q = idempotent_parquet_sink(stream, out)
    assert q.awaitTermination(300)
    first = spark.read.parquet(out)
    n = first.count()
    assert n == load_table(spark, SF_DIR, "events").count()

    # simulate the restart-replay: re-deliver batch 0 through the same
    # handler contract by re-running the whole bounded stream into the
    # same directory with a FRESH checkpoint (same batch ids re-issued)
    q2 = idempotent_parquet_sink(stream, out)
    assert q2.awaitTermination(300)
    again = spark.read.parquet(out)
    assert again.count() == n  # no duplicates: replayed ids were skipped


def test_checkpoint_restart_resumes_not_recomputes(spark, tmp_path):
    """T5+T6 recovery: two availableNow drains sharing one checkpoint.
    The first drains half the files; more files arrive; the second run
    must process ONLY the new files (offset log resume) while its state
    store carries the first run's counts forward — the reduced emissions
    equal the batch aggregate over everything. The offsets, commits and
    state deltas are written and read back through the session's
    FileSystem-based checkpoint manager, with checksum files on."""
    from streambench_spark.session import CHECKPOINT_FILE_MANAGER

    assert spark.conf.get(_CKPT_MANAGER_KEY) == CHECKPOINT_FILE_MANAGER
    assert spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))

        def handle(bdf, _bid):
            bdf.write.mode("append").parquet(out)

        q = (
            agg.writeStream.foreachBatch(handle)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "drain timed out"
        return sum(p.numInputRows for p in q.recentProgress)

    rows1 = drain()
    assert rows1 == half1.count()
    half2.coalesce(1).write.mode("append").parquet(src)
    rows2 = drain()
    # resume, not recompute: run 2 reads only the newly arrived file
    assert rows2 == half2.count()
    final = (
        spark.read.parquet(out).groupBy("user_id").agg(F.max("n").alias("n"))
    )
    batch = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert _rows(final) == _rows(batch)


def test_compact_small_files_reduces_count_and_preserves_rows(spark, tmp_path):
    from streambench_spark.sinks.sinks import compact_small_files

    import pyspark.sql.functions as F

    df = spark.range(50_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    frag = str(tmp_path / "frag")
    df.repartition(64).write.mode("overwrite").parquet(frag)
    import os
    n_before = sum(1 for f in os.listdir(frag) if f.endswith(".parquet"))
    assert n_before == 64
    dst = str(tmp_path / "compact")
    n_after = compact_small_files(spark, frag, dst, target_mb=128)
    assert n_after < n_before and n_after >= 1
    back = spark.read.parquet(dst)
    assert back.count() == 50_000
    assert back.agg(F.sum("id")).first()[0] == df.agg(F.sum("id")).first()[0]


def test_foreachbatch_rereads_dim_per_batch(spark, tmp_path):
    """The slowly-changing-broadcast pattern: a foreachBatch handler
    re-resolves the dimension on every micro-batch, so a dim refresh
    lands mid-stream without restarting the query. Deterministic stand-in
    for the refresh: the handler picks the dim version by batch_id; the
    assertion is that BOTH versions appear in the output (a plan that
    resolved the dim once would stamp a single version)."""
    import pyspark.sql.functions as F

    dim_v1 = spark.createDataFrame([(t, "v1") for t in
        ["view", "click", "purchase", "signup", "error"]], ["event_type", "dim_ver"])
    dim_v2 = dim_v1.withColumn("dim_ver", F.lit("v2"))
    p1, p2 = str(tmp_path / "dim1"), str(tmp_path / "dim2")
    dim_v1.write.parquet(p1)
    dim_v2.write.parquet(p2)

    src = str(tmp_path / "events_src")
    ev = spark.range(200).select(
        F.col("id").alias("event_id"),
        F.expr("element_at(array('view','click','purchase'), CAST(id % 3 AS INT) + 1)")
        .alias("event_type"),
    )
    ev.repartition(4).write.parquet(src)

    out = str(tmp_path / "out")

    def handle(batch_df, batch_id):
        dim = batch_df.sparkSession.read.parquet(p1 if batch_id % 2 == 0 else p2)
        batch_df.join(F.broadcast(dim), "event_type").write.mode(
            "append"
        ).parquet(out)

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 200  # every event joined exactly once
    vers = {r["dim_ver"] for r in got.select("dim_ver").distinct().collect()}
    assert vers == {"v1", "v2"}  # dim re-resolved per batch, not once


def test_append_watermark_evicts_window_state(spark, tmp_path):
    """T2/T5 bounded-state proof with METRICS, not argument: drain 12
    hourly slices one file per micro-batch; the state store must hold
    only the open window(s) at any point (watermark evicts closed ones),
    never all 12 — numRowsTotal stays small, numRowsRemoved fires, and
    the emitted windows are exactly the 11 the final watermark closed."""
    import datetime as dt
    import glob as _glob
    import os
    import shutil

    from streambench_spark.streaming.ysb import start_query

    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    base = dt.datetime(2024, 1, 1)
    for i in range(12):
        rows = [
            (i * 100 + j, base + dt.timedelta(hours=i, minutes=5 * j))
            for j in range(10)
        ]
        spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = _glob.glob(stage + "/part-*.parquet")[0]
        dest = os.path.join(src, f"{i:03d}.parquet")
        shutil.copyfile(part, dest)
        os.utime(dest, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis("w.start").alias("ws"), "n")
    )
    out_dir = str(tmp_path / "out")
    q = start_query(
        agg, fmt="parquet", mode="append", available_now=True,
        options={"path": out_dir},
    )
    emitted = spark.read.schema("ws long, n long").parquet(out_dir)
    got = {r["ws"]: r["n"] for r in emitted.collect()}
    assert len(got) == 11 and all(n == 10 for n in got.values())

    progs = [p for p in q.recentProgress if p.get("stateOperators")]
    totals = [p["stateOperators"][0]["numRowsTotal"] for p in progs]
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progs)
    assert max(totals) <= 3, totals   # never all 12 windows resident
    assert removed >= 9, removed      # eviction actually fired


def test_rocksdb_state_store_matches_default(spark):
    """T5 at scale: the RocksDB state-store provider — what a 100 TB
    stateful job runs, since state lives on executor local disk instead
    of the JVM heap — must produce results identical to the default
    HDFS-backed in-memory provider on the same watermarked windowed
    aggregation (same source, same drain)."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_append_to_parquet

    def run():
        stream = stream_table(spark, SF_DIR, "events")
        agg = (
            stream.withWatermark("ts", "1 second")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_millis("w.start").alias("ws"), "event_type", "n")
        )
        out = run_append_to_parquet(spark, agg)
        return sorted(map(tuple, out.collect()))

    base = run()
    conf = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(conf)
    spark.conf.set(
        conf,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks = run()
    finally:
        spark.conf.set(conf, old)
    assert rocks == base and len(base) > 0


def test_running_value_stats_negative_and_null_values(spark, tmp_path):
    """Regression for the round-4 review finds: (a) max_cents seeded with
    0 beat any all-negative stream's true max; (b) an all-NULL batch
    group crashed on int(NaN); (c) the max(sum_cents) consumer picked an
    intermediate emission when negative values make the cumulative sum
    non-monotonic. Two files forced into separate micro-batches so the
    state crosses a batch boundary with the sum DECREASING."""
    from pyspark.sql import functions as F

    from streambench_spark.streaming.stateful import running_value_stats
    from streambench_spark.streaming.ysb import run_to_memory

    b1 = [(1, -5.0), (1, -1.0), (2, None)]
    b2 = [(1, -7.0), (2, None), (3, -2.5)]
    src = str(tmp_path / "ev")
    schema = "user_id long, value double"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q, table = run_to_memory(running_value_stats(stream), mode="update")
    got = {
        r["user_id"]: (r["sum_cents"], r["n"], r["max_cents"])
        for r in spark.table(table).groupBy("user_id").agg(
            F.expr("max_by(sum_cents, n)").alias("sum_cents"),
            F.max("n").alias("n"),
            F.expr("max_by(max_cents, n)").alias("max_cents")).collect()
    }
    # user 1: sum -1300 (non-monotonic across batches), max -100 (not 0)
    # user 2: all-NULL values -> sum 0, n 2, max NULL (no crash)
    # user 3: single negative
    assert got == {1: (-1300, 3, -100), 2: (0, 2, None), 3: (-250, 1, -250)}


def test_compact_parquet_dir_recovers_from_crash_debris(spark, tmp_path):
    """Regression for the round-4 review find: a kill between the two
    directory renames left `.compact_old` holding the only copy (or a
    stale old dir that failed every later compaction with ENOTEMPTY).
    The next call must self-heal both states."""
    import os
    import shutil

    from streambench_spark.sinks.sinks import compact_parquet_dir

    path = str(tmp_path / "mv")
    spark.range(10).write.parquet(path)
    # state A: stale .compact_old from a crash AFTER the swap
    shutil.copytree(path, path + ".compact_old")
    n = compact_parquet_dir(spark, path)
    assert n == 1
    assert not os.path.exists(path + ".compact_old")
    assert spark.read.parquet(path).count() == 10
    # state B: crash BETWEEN renames — data only in .compact_old
    os.rename(path, path + ".compact_old")
    n = compact_parquet_dir(spark, path)
    assert n == 1
    assert spark.read.parquet(path).count() == 10


def test_skip_no_data_batch_preserves_drain_results(spark, tmp_path):
    """final_no_data_batch=False must change ONLY batch count, never the
    emitted rows, for the two operator classes that opt in (inner
    stream-stream interval join; dropDuplicatesWithinWatermark). Pinned
    on a fixture where the watermark DOES move (so eviction would run in
    the skipped batch if anything depended on it)."""
    from streambench_spark.operators import relational as rel
    from streambench_spark.streaming.ysb import run_append_to_parquet

    src_dir = str(tmp_path / "src")
    rows = [(i, i % 3, "view" if i % 2 == 0 else "purchase") for i in range(60)]
    (
        spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
        .withColumn("ts", F.expr(
            "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0, event_id * 600)"
        ))
        .write.mode("overwrite").parquet(src_dir)
    )
    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def drained(kind: str, skip: bool):
        stream = spark.readStream.schema(schema).parquet(src_dir)
        if kind == "join":
            def side(et):
                return stream.filter(F.col("event_type") == et).withWatermark(
                    "ts", "1 second"
                )
            out = rel.interval_join(
                side("view"), side("purchase"), key="user_id",
                left_ts="ts", right_ts="ts", lower="0 seconds", upper="1 hour",
            ).select(
                F.col("l.event_id").alias("a"), F.col("r.event_id").alias("b")
            )
        else:
            out = stream.withWatermark("ts", "1 second").dropDuplicatesWithinWatermark(
                ["user_id", "event_type"]
            ).select("user_id", "event_type")
        df = run_append_to_parquet(spark, out, final_no_data_batch=not skip)
        return sorted(map(tuple, df.collect()))

    for kind in ("join", "dedup"):
        with_batch = drained(kind, skip=False)
        without = drained(kind, skip=True)
        assert with_batch == without and len(with_batch) > 0


def test_paced_drain_floor_derivation_inputs(spark, tmp_path):
    """Floor derivation pin for the paced-drain family
    (ysb_paced_files_drain / ysb_trigger_early_fire / cms_streaming_merge):
    their wall time is N_batches x the per-batch micro-batch machinery
    cycle (engine trigger + foreachBatch job + commit), where N_batches
    is EXACTLY ceil(n_files / maxFilesPerTrigger) data batches — pinned
    here so the declared pacing can't silently drift (a floor claim over
    8 batches is void if the source drains in one). Measured: a trivial
    passthrough drain under identical pacing costs within ~1-2 s of the
    real drains at sf0.1 (plans/r16/paced_floor.json), so the family is
    at the machinery floor of its declared semantics."""
    from streambench_spark.sources.replay import stream_table_multifile

    stream = stream_table_multifile(spark, SF_DIR, "events", n_files=4,
                                    max_files_per_trigger=1)
    seen: list[int] = []

    def handle(bdf, bid):
        if bdf.count() > 0:
            seen.append(bid)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(seen) == 4  # ceil(n_files / maxFilesPerTrigger)


def test_no_data_batch_conf_restored(spark):
    """The pin must not leak into the session (other drains rely on the
    finalize batch)."""
    from streambench_spark.streaming.ysb import _pinned_no_data_batch

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key, None)
    with _pinned_no_data_batch(spark, enabled=False):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key, None) == before


def test_get_spark_sets_checkpoint_manager_on_existing_session(spark):
    """A session that existed before get_spark (here: one whose setting
    was dropped) gets the FileSystem-based checkpoint manager too."""
    from streambench_spark.session import CHECKPOINT_FILE_MANAGER, get_spark

    spark.conf.unset(_CKPT_MANAGER_KEY)
    assert spark.conf.get(_CKPT_MANAGER_KEY, None) != CHECKPOINT_FILE_MANAGER
    again = get_spark(app_name="streambench-tests",
                      shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert again is spark
    assert spark.conf.get(_CKPT_MANAGER_KEY) == CHECKPOINT_FILE_MANAGER


def _build_counting_jobs(spark, build):
    """``build()``'s result and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"build-{id(build)}"
    sc.setJobGroup(group, "jobs started while building a plan")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def _explain(df) -> str:
    import re

    text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    return re.sub(r"plan_id=\d+", "plan_id=_", text)


def _customer_dim(spark):
    return load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")


def test_with_index_is_a_snapshot(spark):
    """The replay lookup's index sort runs once, in with_index: its plan
    holds no Window, and idx is the dense 0..N-1 order of order_col."""
    from streambench_spark.sources.replay import with_index

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    lookup = with_index(ev, "event_id")
    assert "Window" not in lookup._jdf.queryExecution().optimizedPlan().toString()
    got = [(r["idx"], r["event_id"]) for r in lookup.orderBy("idx").collect()]
    ids = sorted(r["event_id"] for r in ev.collect())
    assert got == list(enumerate(ids))


def test_dim_join_streaming_fact_broadcasts_snapshot(spark):
    """Against a streaming fact, dim_join snapshots the static dim once,
    while the plan is built: no file scan under its BroadcastExchange."""
    from streambench_spark.operators.relational import dim_join

    fact = stream_table(spark, SF_DIR, "events").select("user_id", "ts")
    joined, jobs = _build_counting_jobs(
        spark, lambda: dim_join(fact, _customer_dim(spark), ["user_id"]))
    assert jobs, "the snapshot is eager"
    text = _explain(joined)
    assert "StreamingRelation" in text
    build_side = text.split("BroadcastExchange", 1)[1]
    assert "Scan ExistingRDD" in build_side
    assert "FileScan" not in build_side


def test_dim_join_batch_fact_plan_unchanged(spark):
    """A batch fact's dim_join is the plain broadcast join, built lazily."""
    from pyspark.sql.functions import broadcast

    from streambench_spark.operators.relational import dim_join

    fact = load_table(spark, SF_DIR, "events").select("user_id", "ts")
    dim = _customer_dim(spark)
    joined, jobs = _build_counting_jobs(
        spark, lambda: dim_join(fact, dim, ["user_id"], "left"))
    assert jobs == []
    assert _explain(joined) == _explain(fact.join(broadcast(dim), ["user_id"], "left"))


def test_ensure_session_confs_sets_checkpoint_manager(spark):
    """A session the program did not create (a caller's own, a bare
    oracle-check session) gets the FileSystem-based checkpoint manager
    from the conf pass every table load runs."""
    from streambench_spark.session import CHECKPOINT_FILE_MANAGER

    spark.conf.unset(_CKPT_MANAGER_KEY)
    assert spark.conf.get(_CKPT_MANAGER_KEY, None) != CHECKPOINT_FILE_MANAGER
    load_table(spark, SF_DIR, "customer")
    assert spark.conf.get(_CKPT_MANAGER_KEY) == CHECKPOINT_FILE_MANAGER



def test_python_workers_fork_from_preloaded_daemon(spark):
    """The session's Python workers fork from streambench_spark.pydaemon,
    so even a plain (non-Arrow) UDF runs in a process that already holds
    pandas: the import is shared copy-on-write, not repeated per worker."""
    import sys

    assert spark.conf.get("spark.python.daemon.module") == "streambench_spark.pydaemon"
    has_pandas = F.udf(lambda _: "pandas" in sys.modules, "boolean")
    assert {r[0] for r in spark.range(4).select(has_pandas("id")).collect()} == {True}

def test_bounded_drains_remove_their_checkpoint(spark, tmp_path, monkeypatch):
    """Append, update, memory and incremental-MV drains, the CMS registry
    query's drain, and the availableNow runs of latency_marking_sink and
    start_query leave no sb_ckpt_* directory behind; the output
    directories stay (the result reads them)."""
    import tempfile

    from streambench_spark.plans.queries import REGISTRY
    from streambench_spark.sinks.sinks import incremental_mv_sink, latency_marking_sink
    from streambench_spark.streaming.ysb import (
        run_append_to_parquet,
        run_update_to_parquet,
        start_query,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = stream_table(spark, SF_DIR, "events")
    n_events = load_table(spark, SF_DIR, "events").count()
    appended = run_append_to_parquet(spark, ev.select("event_id"))
    counted = run_update_to_parquet(spark, ev.groupBy("event_type").count())
    _, table = run_to_memory(ev.groupBy("event_type").count(), mode="complete")
    mv = str(tmp_path / "mv")
    incremental_mv_sink(ev, mv, lambda b: b.groupBy("event_type").count())
    cms = REGISTRY["cms_streaming_merge"].fn(spark, SF_DIR)
    collector: list = []
    latency_marking_sink(
        ev.withColumn("last_update_ms", F.unix_millis("ts")), collector,
        mode="append", available_now=True,
    )
    files = str(tmp_path / "files")
    start_query(ev.select("event_id"), fmt="parquet", mode="append",
                available_now=True, options={"path": files})
    assert appended.count() == n_events
    assert counted.count() > 0
    assert spark.table(table).agg(F.sum("count")).first()[0] == n_events
    assert spark.read.parquet(mv).agg(F.sum("count")).first()[0] == n_events
    assert cms.count() > 0
    assert sum(rows for _, rows, _ in collector) == n_events
    assert spark.read.parquet(files).count() == n_events
    left = sorted(p.name for p in tmp_path.iterdir())
    assert not [n for n in left if n.startswith("sb_ckpt_")], left
    assert [n for n in left if n.startswith("sb_append_out_")]
    assert [n for n in left if n.startswith("sb_update_out_")]


def test_one_drain_core_in_the_package_source():
    """Every bounded drain goes through streaming/ysb._drain: no other
    module of the package starts an availableNow trigger or waits on a
    query, and _drain is the one availableNow site."""
    import pathlib

    import streambench_spark

    root = pathlib.Path(streambench_spark.__file__).parent
    core = root / "streaming" / "ysb.py"
    for path in sorted(root.rglob("*.py")):
        if path == core:
            continue
        text = path.read_text()
        for needle in ("availableNow=True", "awaitTermination("):
            assert needle not in text, f"{path.relative_to(root)}: {needle}"
    assert core.read_text().count("availableNow=True") == 1


def test_running_counts_across_batches_with_nulls(spark, tmp_path, monkeypatch):
    """running_counts over a 3-batch drain whose rows hold a null user_id
    and a null event_type: max(n) per (user_id, event_type) is the batch
    count, and no batch emits a pair twice."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streambench_spark.sources.replay import stream_table_multifile
    from streambench_spark.streaming.stateful import running_counts

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    users = [1, 2, None, 1, 2, 1]
    types = ["view", None, "click", "view", "click", None, "cart"]
    n = 42
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([1_704_067_200_000_000 + i for i in range(n)], pa.timestamp("us")),
        "user_id": pa.array([users[i % len(users)] for i in range(n)], pa.int64()),
        "event_type": pa.array([types[i % len(types)] for i in range(n)], pa.string()),
        "value": pa.array([1.0] * n, pa.float64()),
    }), str(tmp_path / "events.parquet"))
    stream = stream_table_multifile(
        spark, str(tmp_path), "events", n_files=3, max_files_per_trigger=1
    ).select("user_id", "event_type")
    counted = running_counts(stream, ["user_id", "event_type"],
                             "user_id long, event_type string, n long")
    batches = []
    q = (
        counted.writeStream.foreachBatch(
            lambda bdf, _bid: batches.append([tuple(r) for r in bdf.collect()]))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len([b for b in batches if b]) >= 3
    for rows in batches:
        pairs = [(u, e) for u, e, _ in rows]
        assert len(pairs) == len(set(pairs))
    final = {}
    for rows in batches:
        for u, e, c in rows:
            final[(u, e)] = max(c, final.get((u, e), 0))
    want = {
        (r["user_id"], r["event_type"]): r["count"]
        for r in load_table(spark, str(tmp_path), "events")
        .groupBy("user_id", "event_type").count().collect()
    }
    assert (None, "click") in want and (1, None) in want
    assert final == want


def test_drain_state_partitions_follow_policy(spark):
    """A drain runs its state operator on one shuffle partition per core
    up to 8 (the one policy), and the session's
    spark.sql.shuffle.partitions is restored afterwards."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class StateParts(StreamingQueryListener):
        def __init__(self):
            self.parts, self.done = {}, set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            for op in event.progress.stateOperators:
                self.parts.setdefault(str(event.progress.id), set()).add(
                    op.numShufflePartitions)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.add(str(event.id))

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    listener = StateParts()
    spark.streams.addListener(listener)
    try:
        agg = stream_table(spark, SF_DIR, "events").groupBy("event_type").count()
        q, _ = run_to_memory(agg, mode="complete")
        deadline = time.time() + 30
        while str(q.id) not in listener.done and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert listener.parts[str(q.id)] == {min(spark.sparkContext.defaultParallelism, 8)}
    assert spark.conf.get(key) == before


@pytest.mark.parametrize("cores,want", [(2, "2"), (8, "8"), (32, "8")])
def test_state_partition_policy_caps_at_eight(cores, want):
    """The policy gives one state partition per core, never more than 8
    (a wide session must not get one state store per core)."""
    from types import SimpleNamespace

    from streambench_spark.streaming.ysb import _pinned_state_partitions

    class Conf(dict):
        get = dict.__getitem__

        def set(self, k, v):
            self[k] = v

    fake = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores),
                           conf=Conf({"spark.sql.shuffle.partitions": "200"}))
    with _pinned_state_partitions(fake):
        assert fake.conf["spark.sql.shuffle.partitions"] == want
    assert fake.conf["spark.sql.shuffle.partitions"] == "200"


def test_running_counts_rejects_non_string_last_key(spark):
    """The last key travels through pandas, which keeps only strings and
    nulls exact, so any other last-key type is refused up front."""
    from streambench_spark.streaming.stateful import running_counts

    df = spark.range(3).select(F.col("id").alias("user_id"), F.col("id").alias("k"))
    with pytest.raises(ValueError, match="string last key"):
        running_counts(df, ["user_id", "k"], "user_id long, k long, n long")
