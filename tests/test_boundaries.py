"""Exact-boundary semantics fixtures: organic microsecond data never
lands exactly ON a window edge / band endpoint / tie, so a wrong
inclusivity convention can hide behind green oracles indefinitely —
round 4 caught exactly that in session_window (merge on exact gap touch;
see session_windows_edges). These tests pin every other time operator's
boundary behavior with hand-built timestamps AT the edges, against
hand-computed expectations.

Reference semantics being pinned:
- tumbling/sliding windows are HALF-OPEN [start, end): an event exactly
  at a window's end belongs to the next window (StreamBox window_id =
  ts/width integer division, sbx/WinKeyFrag.h; Spark F.window same).
- interval_join bounds are BOTH-INCLUSIVE [l.ts+lower, l.ts+upper]
  (operators/relational.py:54), and the banded twin must agree AT the
  band edges (a bucket-boundary off-by-one would drop edge matches).
- as-of backward match is tie-INCLUSIVE: a quote exactly at the probe
  ts wins over any earlier quote (DuckDB ASOF `<=`, pandas merge_asof
  backward default, operators/relational.py:169).
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(seconds: float) -> dt.datetime:
    return BASE + dt.timedelta(seconds=seconds)


def test_tumbling_window_half_open(spark):
    """Events at exactly 0s, 3599.999999s, 3600s: the first two share the
    hour-0 window, the third opens hour 1 — [start, end), never [start,
    end]."""
    rows = [(1, _ts(0.0)), (2, _ts(3599.999999)), (3, _ts(3600.0))]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = {
        r["id"]: r["ws"]
        for r in df.select(
            "id", F.unix_millis(F.window("ts", "1 hour").start).alias("ws")
        ).collect()
    }
    h0 = 1704067200000
    assert out[1] == h0
    assert out[2] == h0
    assert out[3] == h0 + 3_600_000


def test_sliding_window_edge_membership(spark):
    """1 h windows sliding by 30 min: an event exactly on a slide boundary
    belongs to exactly len/slide = 2 windows, and its own boundary is a
    window START (inclusive) but the earlier window that ENDS there
    excludes it."""
    t = 7200.0  # 02:00:00 — a slide boundary
    df = spark.createDataFrame([(1, _ts(t))], "id long, ts timestamp")
    starts = sorted(
        r["ws"]
        for r in df.select(
            F.unix_millis(F.window("ts", "1 hour", "30 minutes").start).alias("ws")
        ).collect()
    )
    base_ms = 1704067200000 + int(t * 1000)
    # member of [01:30, 02:30) and [02:00, 03:00); NOT [01:00, 02:00)
    assert starts == [base_ms - 1_800_000, base_ms]


def test_interval_join_inclusive_both_ends(spark):
    """Band [l.ts, l.ts + 60 s]: right rows exactly at l.ts and exactly at
    l.ts+60 s both match; 60.000001 s does not."""
    from streambench_spark.operators.relational import (
        interval_join,
        interval_join_banded,
    )

    left = spark.createDataFrame([(1, 10, _ts(100.0))], "lid long, k long, lts timestamp")
    right = spark.createDataFrame(
        [
            (1, 10, _ts(100.0)),       # exactly lower edge
            (2, 10, _ts(160.0)),       # exactly upper edge
            (3, 10, _ts(160.000001)),  # just past
            (4, 10, _ts(99.999999)),   # just before
        ],
        "rid long, k long, rts timestamp",
    )
    for op in (interval_join, interval_join_banded):
        got = sorted(
            r["rid"]
            for r in op(
                left, right, key="k", left_ts="lts", right_ts="rts",
                upper="1 minute",
            ).collect()
        )
        assert got == [1, 2], (op.__name__, got)


def test_asof_tie_inclusive_exact_timestamp(spark):
    """A quote exactly AT the probe timestamp is the match (ties
    inclusive), not the earlier quote — in both the sorted-union builtin
    and the cogrouped merge_asof twin."""
    from streambench_spark.operators.relational import (
        asof_join,
        asof_join_cogrouped,
    )

    probes = spark.createDataFrame(
        [(1, 10, _ts(50.0))], "pid long, k long, pts timestamp"
    )
    quotes = spark.createDataFrame(
        [(100, 10, _ts(40.0)), (200, 10, _ts(50.0)), (300, 10, _ts(60.0))],
        "qid long, k long, qts timestamp",
    )
    got = asof_join(
        probes, quotes, key="k", probe_ts="pts", quote_ts="qts",
        quote_cols=["qid"],
    ).collect()
    assert len(got) == 1 and got[0]["qid"] == 200

    # cogrouped twin crosses Arrow on epoch-millis longs (its contract)
    p2 = probes.select("pid", "k", F.unix_millis("pts").alias("pms"))
    q2 = quotes.select("qid", "k", F.unix_millis("qts").alias("qms"))
    got2 = asof_join_cogrouped(
        p2, q2, key="k", probe_ts="pms", quote_ts="qms",
        quote_cols=["qid", "qms"],
    ).collect()
    assert len(got2) == 1 and got2[0]["qid"] == 200


def test_watermark_exact_boundary_window_emission(spark):
    """Append-mode emission at the EXACT watermark: a window whose end
    equals the final watermark is finalized and emitted (Spark evicts
    state when watermark >= window end); a window ending 1 ms past it is
    withheld. Pins the `<=` in every *_streaming_append oracle's HAVING
    cutoff."""
    import tempfile

    from streambench_spark.streaming.ysb import run_append_to_parquet

    # two windows of 10 s: [0,10) and [10,20); max event ts 20.0 with a
    # 10 s watermark delay → final watermark exactly 10.0 == end of w0
    rows = [(1, _ts(0.0)), (2, _ts(5.0)), (3, _ts(12.0)), (4, _ts(20.0))]
    src_dir = tempfile.mkdtemp(prefix="sb_wm_edge_")
    spark.createDataFrame(rows, "id long, ts timestamp").write.mode(
        "overwrite"
    ).parquet(src_dir + "/events.parquet")
    stream = spark.readStream.schema("id long, ts timestamp").parquet(
        src_dir + "/events.parquet"
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "10 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_millis("w.start").alias("ws"), "n")
    )
    out = run_append_to_parquet(spark, agg)
    got = {r["ws"]: r["n"] for r in out.collect()}
    h0 = 1704067200000
    assert got == {h0: 2}  # w0 emitted at exact-equality; w1 withheld


def test_lag_sweep_sessions_break_strictly_past_gap(spark, tmp_path):
    """The lag-based sessionizers (session_type_affinity,
    session_conversion_rate — per-USER sweeps that can't use the keyed
    session_window builtin) must break on delta > 30 min STRICTLY, like
    every session oracle and Spark's own touch-merge: two events exactly
    1 800 000 ms apart share a session. Regression for the round-4
    review find where the Spark side said >= while the oracle said >."""
    import duckdb

    from streambench_spark.plans.analytics_queries import (
        _AFFINITY_ORACLE, _SESS_CONV_ORACLE,
        q_session_conversion_rate, q_session_type_affinity,
    )

    # user 1: view then purchase EXACTLY at the 30-min gap → one session,
    # and it converts. user 2: 30 min + 1 ms apart → two sessions, the
    # view session does NOT convert.
    rows = [
        (1, _ts(0.0), 1, "view", 1.0, "{}"),
        (2, _ts(1800.0), 1, "purchase", 1.0, "{}"),
        (3, _ts(0.0), 2, "view", 1.0, "{}"),
        (4, _ts(1800.001), 2, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf + "/events.parquet")
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    from tests.conftest import assert_matches_oracle

    conv = q_session_conversion_rate(spark, sf)
    r = conv.collect()[0]
    assert (r["view_sessions"], r["converting_sessions"]) == (2, 1)
    assert_matches_oracle(conv, duck, _SESS_CONV_ORACLE)
    assert_matches_oracle(q_session_type_affinity(spark, sf), duck,
                          _AFFINITY_ORACLE)


def test_exact_percentiles_ignore_nulls(spark):
    """percentile()/quantile_cont skip NULLs; the distributed-sort path
    must too (an asc sort ranks NULLS FIRST and would shift every h).
    Regression for the round-4 review find."""
    from streambench_spark.operators.aggregates import exact_percentiles_sorted

    df = spark.createDataFrame(
        [(0, None), (0, 1.0), (0, 2.0), (1, None), (1, None), (2, 5.0)],
        "g int, v double",
    )
    got = {
        r["g"]: r["q50"]
        for r in exact_percentiles_sorted(
            df, "v", {"q50": 0.5}, keys=["g"]
        ).collect()
    }
    # group 0: nulls ignored → median of [1, 2] = 1.5; group 1 (all-null)
    # is dropped (documented divergence from the builtin's NULL row);
    # group 2 singleton
    assert got == {0: 1.5, 2: 5.0}
    g = exact_percentiles_sorted(
        df.select("v"), "v", {"q50": 0.5}
    ).first()
    assert g["q50"] == 2.0  # global: [1, 2, 5] → 2.0, nulls skipped


def test_star_cc_keeps_selfloop_only_nodes(spark):
    """A node whose only edge is a self-loop is a 1-node component in
    BOTH CC implementations — the star variant's u != v pre-filter must
    not drop it (the min-label twin labels it with itself). Regression
    for the round-4 review find."""
    from streambench_spark.operators.graph import (
        connected_components, connected_components_star,
    )

    edges = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 3), (7, 7), (7, 8)], "src long, dst long"
    )
    want = {(1, 1), (2, 1), (3, 1), (5, 5), (7, 7), (8, 7)}
    star = {
        (r["node"], r["comp"])
        for r in connected_components_star(edges).collect()
    }
    plain = {
        (r["node"], r["comp"])
        for r in connected_components(edges).collect()
    }
    assert star == want
    assert plain == want


def test_dynamic_gap_exact_touch_merges(spark, tmp_path):
    """Dynamic-gap session_window merges on EXACT touch, same as the
    fixed-gap window: an event landing exactly at the running max of
    prior session ends EXTENDS the session. Pins the strict `>` break in
    the shared _dynamic_gap_oracle (round-4 review CONFIRMED the old
    `>=` copies split where Spark merges)."""
    import duckdb

    from streambench_spark.plans.queries import (
        _dynamic_gap_oracle, q_session_windows_dynamic_gap,
    )
    from tests.conftest import assert_matches_oracle

    # user 1: view at t=0 (10-min gap) then event exactly at t+600s →
    # ONE session; user 2: 600.001s later → TWO sessions
    rows = [
        (1, _ts(0.0), 1, "view", 1.0, "{}"),
        (2, _ts(600.0), 1, "view", 1.0, "{}"),
        (3, _ts(0.0), 2, "view", 1.0, "{}"),
        (4, _ts(600.001), 2, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(sf + "/events.parquet")
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    out = q_session_windows_dynamic_gap(spark, sf)
    per_user = {
        r["user_id"]: r["cnt"]
        for r in out.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_user == {1: 1, 2: 2}
    assert_matches_oracle(out, duck, _dynamic_gap_oracle())
