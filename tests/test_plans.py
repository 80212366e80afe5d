"""Plan-shape assertions: the scale claims in PLANS.md/SCALE.md as
mechanical checks — pushdown reaches the scan, dims broadcast, shuffle
counts don't regress. Formatted-plan text is stable enough for these
coarse invariants (counts and node names, not layout)."""

from __future__ import annotations

import re

from streambench_spark.plans.queries import REGISTRY
from tests.conftest import SF_DIR


def _plan(spark, name):
    df = REGISTRY[name].fn(spark, SF_DIR)
    return spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_ysb_plan_broadcast_and_single_shuffle(spark):
    plan = _plan(spark, "ysb")
    assert "BroadcastHashJoin" in plan           # dim side broadcast
    assert "SortMergeJoin" not in plan           # fact never shuffles to join
    # exactly one shuffle: the (window, segment) aggregate
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1
    # filter + projection reach the fact scan
    assert "PushedFilters: [" in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert "EqualTo(event_type,view)" in m.group(1)


def test_tpch_q6_pushdown_and_pruning(spark):
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual(l_shipdate" in m.group(1)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in rs.group(1).split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}
    assert "Join" not in plan


def test_chunk_docs_no_key_shuffle(spark):
    plan = _plan(spark, "chunk_docs")
    # only the single-file round-robin repartition; no hash/range exchange
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Generate" in plan


def test_tpch_q5_all_dims_broadcast(spark):
    plan = _plan(spark, "tpch_q5_local_supplier")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 5
    assert "SortMergeJoin" not in plan
    # lineitem shuffles only at the final groupBy(n_name)
    assert plan.count("Arguments: hashpartitioning") == 1


def test_tpch_q8_dims_broadcast_filters_pushed(spark):
    plan = _plan(spark, "tpch_q8_market_share")
    # part/supplier/customer/nation×2/region all ride broadcast joins;
    # only lineitem-orders may shuffle (fact-fact, planner's choice)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 6
    joined = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "EqualTo(p_type,ECONOMY)" in joined
    assert "EqualTo(r_name,AMERICA)" in joined
    assert "GreaterThanOrEqual(o_orderdate" in joined
    assert "CartesianProduct" not in plan


def test_tpch_q21_returnflag_pushed_single_agg_shuffle(spark):
    plan = _plan(spark, "tpch_q21_waiting_supplier")
    joined = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    # the R-flag filter reaches BOTH the driving and the NOT-EXISTS scan
    assert joined.count("EqualTo(l_returnflag,R)") == 2
    assert "EqualTo(o_orderstatus,F)" in joined
    # one hash shuffle for the s_name aggregate; top-20 is a heap, not a sort
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Arguments: hashpartitioning") == 1


def test_tpch_q22_integer_threshold_no_float_avg(spark):
    plan = _plan(spark, "tpch_q22_global_sales_opportunity")
    joined = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "In(c_nationkey" in joined
    # recent-orders date filter reaches the anti-join's orders scan
    assert "GreaterThanOrEqual(o_orderdate,1999-01-01" in joined
    # threshold is the integer bal·n > sum rewrite — no avg() anywhere
    assert "avg(" not in plan


def test_pii_scrub_zero_shuffles(spark):
    plan = _plan(spark, "pii_scrub")
    # pure scan-stage codegen: only the single-file round-robin repartition
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_value_histogram_single_agg_shuffle(spark):
    plan = _plan(spark, "value_histogram")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "Join" not in plan


def test_funnel_single_partitioning_key(spark):
    plan = _plan(spark, "funnel_conversion")
    # every exchange in the funnel chain hashes on user_id (one
    # partitioning chain, no re-keying between stages)
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan)
    assert keys and set(keys) == {"user_id"}


def test_ohlc_single_agg_shuffle(spark):
    plan = _plan(spark, "ohlc_hourly_bars")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan


def test_dataset_shuffle_uses_range_partitioning(spark):
    # inspect the UNcheckpointed lineage (the default localCheckpoint
    # truncates the plan to a LogicalRDD scan): the total order comes
    # from ONE range exchange + per-partition sort + Arrow enumerate —
    # no hash exchange on the data path (a window on spark_partition_id
    # would add one)
    from streambench_spark.catalog import load_table
    from streambench_spark.llm.sampling import dataset_shuffle
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    lineage = dataset_shuffle(docs, checkpoint=False)
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        lineage._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" in plan
    # the local row number comes from the Arrow enumerate, not a window
    # partitioned by spark_partition_id (which would hash-exchange the
    # full data); the ONLY Window left is the partition-count cumsum
    # over the tiny sizes aggregate
    assert "MapInPandas" in plan
    assert plan.count("Window (") == 1
    # checkpointed default: offsets join stays broadcast
    full = _plan(spark, "dataset_shuffle")
    assert "BroadcastHashJoin" in full


def test_load_table_memo_invalidates_on_rewrite(spark, tmp_path):
    """load_table's schema/DataFrame memo is plan caching, never row
    caching: an unchanged file returns the memoized plan object, a
    rewritten one (new mtime/size) misses and its new rows are seen."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streambench_spark.catalog import load_table

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64()),
                  "text": pa.array(["a", "b"], pa.string())}),
        path,
    )
    first = load_table(spark, sf_dir, "documents")
    assert {r["doc_id"] for r in first.collect()} == {1, 2}

    # unchanged file: the memo returns the SAME immutable plan object
    assert load_table(spark, sf_dir, "documents") is first

    # rewrite (different rows => different size, fresh mtime): the
    # (path, mtime_ns, size) key must miss and the new rows must be
    # what executions see
    pq.write_table(
        pa.table({"doc_id": pa.array([7, 8, 9], pa.int64()),
                  "text": pa.array(["x", "y", "z"], pa.string())}),
        path,
    )
    second = load_table(spark, sf_dir, "documents")
    assert second is not first
    assert {r["doc_id"] for r in second.collect()} == {7, 8, 9}


def test_lru_memo_bounds_growth():
    """The catalog memos must stay bounded in a long-lived session that
    loads many distinct paths: eviction is least-recently-USED, so a
    looping workload's working set stays resident while one-shot paths
    age out."""
    from streambench_spark.catalog import _LRUMemo

    m = _LRUMemo(maxsize=4)
    for i in range(10):
        m[("k", i)] = i
    assert len(m) == 4
    # the most recent 4 survive
    assert set(m.keys()) == {("k", i) for i in (6, 7, 8, 9)}
    # a get() refreshes recency: key 6 survives the next insert, 7 doesn't
    assert m.get(("k", 6)) == 6
    m[("k", 10)] = 10
    assert m.get(("k", 6)) == 6
    assert m.get(("k", 7)) is None


def test_catalog_memos_are_lru_bounded():
    from streambench_spark.catalog import _DF_MEMO, _SCHEMA_MEMO, _LRUMemo

    assert isinstance(_SCHEMA_MEMO, _LRUMemo)
    assert isinstance(_DF_MEMO, _LRUMemo)
    assert _SCHEMA_MEMO._maxsize >= 64  # plenty for a bench run's tables
    assert _DF_MEMO._maxsize >= 64


def test_ysb_sql_frontend_same_physical_shape(spark):
    """The SQL-frontend YSB compiles to the same physical shape as the
    DataFrame builder: broadcast dim join, one agg shuffle, filter pushed."""
    plan = _plan(spark, "ysb_sql")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(event_type,view)" in m.group(1)


def test_partitioned_source_prunes_partitions(spark):
    """A filter on the PARTITION column over the Hive-partitioned rewrite
    lands in PartitionFilters (a directory prune), not PushedFilters (a
    data scan predicate). Pinned on a direct partition-column filter: the
    registered query filters on the duplicated DATA column since the r07
    bisect (see q_events_partitioned_source), so pruning is proven here,
    independent of the bisect."""
    from pyspark.sql import functions as F

    from streambench_spark.sources.replay import partitioned_roundtrip_table

    ev = partitioned_roundtrip_table(spark, SF_DIR, "events", "event_type")
    df = ev.filter(F.col("event_type") == "view").agg(F.count(F.lit(1)).alias("n"))
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)


def test_partitioned_roundtrip_wire_is_integers_and_strings_only(spark):
    """Wire-discipline pin for the r04/r05 driver-red class: the
    partitioned roundtrip's parquet scan must read NO timestamp or
    double column — those types' encodings consult session state
    (rebase modes, outputTimestampType, float formatting), which is the
    only surface a foreign session could use to shift values. The
    ReadSchema of the roundtrip readback proves what's in the file."""
    plan = _plan(spark, "events_partitioned_source")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # the plan holds two scans: the source table (timestamps fine) and
    # the roundtrip readback; the readback is the one scanning a
    # sb_part_* tmp dir — identify it by its unix_micros'd ts:bigint
    roundtrip = [s for s in schemas if "ts:bigint" in s]
    assert roundtrip, f"no integer-wire scan found in: {schemas}"
    for s in roundtrip:
        assert "timestamp" not in s, s
        assert "double" not in s, s


def test_profile_columns_single_scan(spark):
    """Multi-distinct profile plans as one EXPAND over one scan, not one
    scan per profiled column."""
    plan = _plan(spark, "profile_columns")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan


def test_bloom_join_prune_fact_never_shuffles(spark):
    """The row-local bloom probe + broadcast semi-join plan: every
    Exchange in the plan is a BroadcastExchange (sketch words, dim) or
    sits inside a dim-sized build — the events fact reaches the output
    through Filter + broadcast joins with zero fact-side shuffle."""
    plan = _plan(spark, "bloom_join_prune")
    assert "BroadcastHashJoin LeftSemi" in plan
    # fact branch: scan -> ... -> output with no hashpartitioning on
    # event columns; the only hash exchanges aggregate the tiny dim/bloom
    for m in re.finditer(r"Arguments: hashpartitioning\(([^,]+),", plan):
        assert m.group(1).strip().startswith(("user_id", "widx")), plan


def test_triangles_node_keyed_no_forced_broadcast(spark):
    """copurchase_triangles' docstring plan claims, pinned: every shuffle
    keys on a node/edge id, and NOTHING is hint-broadcast — with the
    size-based auto-broadcast disabled, zero BroadcastExchange remains
    (at test SF the optimizer may legitimately broadcast the tiny frames;
    a broadcast() hint on a node-cardinality frame would survive the
    threshold and break at 100×). No cartesian/nested-loop join anywhere
    (the wedge join is an equi-join under the degree orientation)."""
    # save/restore (NOT unset: unset reverts to Spark's 10MB built-in,
    # leaking a non-factory threshold into every later session test)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "copurchase_triangles")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("BroadcastExchange (") == 0
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = set(re.findall(r"Arguments: hashpartitioning\((\w+)#", plan))
    assert keys <= {"src", "dst", "l_orderkey", "n", "node", "u", "v"}, keys


def test_pagerank_round_is_one_join_one_aggregate(spark):
    """One PageRank round (uncheckpointed lineage), both strategies
    (operators/graph.py:pagerank_exact). Every scan is the checkpointed
    adjacency frame ``adj(a, nb, deg)``; the round explodes ``nb`` once.

    - node count under broadcast_max_nodes: the node-sized rank frame is
      hint-broadcast into the adjacency join and the contribution sums
      into the rank rebuild — exactly TWO BroadcastExchange and ONE
      shuffle (the contribution aggregate, keyed on the exploded
      neighbour id ``b``) per round; the adjacency frame is never
      shuffled by the join.
    - guard fallback (broadcast_max_nodes=0 — the 100 TB posture when
      the node set can't broadcast): 4 shuffle exchanges, nothing
      hint-broadcast: the adjacency and rank sides of the join and the
      node set of the rebuild on ``a``, the aggregate on ``b``."""
    from streambench_spark.catalog import load_table
    from streambench_spark.operators.graph import pagerank_exact
    from streambench_spark.plans.analytics_queries import _copurchase_pairs

    edges = _copurchase_pairs(load_table(spark, SF_DIR, "lineitem"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pr = pagerank_exact(edges, iterations=1, checkpoint=False)
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            pr._jdf.queryExecution(), "formatted"
        )
        pr_fb = pagerank_exact(edges, iterations=1, checkpoint=False,
                               broadcast_max_nodes=0)
        plan_fb = spark._sc._jvm.PythonSQLUtils.explainString(
            pr_fb._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    for p in (plan, plan_fb):
        scans = re.findall(r"\(\d+\) Scan ExistingRDD\nOutput \[\d+\]: \[([^\]]*)\]", p)
        assert scans and all(re.match(r"a#\d+L, nb#\d+, deg#\d+$", o) for o in scans), scans
        assert len(re.findall(r"\(\d+\) Generate\n", p)) == 1
        assert re.search(r"Arguments: explode\(nb#\d+\)", p)
    # broadcast path: 2 broadcasts, 1 true shuffle (count("Exchange (")
    # includes BroadcastExchange as a substring match)
    assert plan.count("BroadcastExchange (") == 2
    assert plan.count("Exchange (") - plan.count("BroadcastExchange (") == 1
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan)
    assert keys == ["b"], keys
    # guard fallback: sort-merge joins on the node id
    assert plan_fb.count("BroadcastExchange (") == 0
    assert plan_fb.count("Exchange (") == 4
    keys_fb = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan_fb)
    assert sorted(keys_fb) == ["a", "a", "a", "b"], keys_fb



def test_pagerank_checkpoint_holds_adjacency_not_edge_rows(spark):
    """copurchase_pagerank's one eager checkpoint is the node-keyed
    adjacency frame: it adds under 16 bytes of block store per directed
    co-purchase edge (one 8-byte array element each, plus one row per
    node). A checkpoint of the symmetrized edge list holds one
    deserialized row per directed edge, about 84 bytes."""
    from streambench_spark.catalog import load_table
    from streambench_spark.plans.analytics_queries import _copurchase_edges

    def resident():
        return {i.id(): i.memSize() + i.diskSize()
                for i in spark._jsc.sc().getRDDStorageInfo()}

    n_edges = _copurchase_edges(load_table(spark, SF_DIR, "lineitem")).count()
    before = resident()
    pr = REGISTRY["copurchase_pagerank"].fn(spark, SF_DIR)
    assert pr.count() > 0
    added = sum(b for i, b in resident().items() if i not in before)
    assert 0 < added < 16 * 2 * n_edges, (added, n_edges)

def test_exchange_reuse_for_shared_aggregate(spark):
    """A self-joined aggregate reuses ONE shuffle (ReusedExchange):
    Catalyst dedups identical exchange subtrees, so the per-type counts
    computed twice cost one."""
    import pyspark.sql.functions as F

    from streambench_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    top = agg.agg(F.max("n").alias("mx"))
    joined = agg.crossJoin(top).filter(F.col("n") == F.col("mx"))
    joined.collect()  # exchange reuse is applied during ADAPTIVE execution
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_cms_heavy_hitters_sketch_broadcast_fact_local(spark):
    """Count-Min heavy hitters (SCALE.md sketch claims): the sketch is
    built by map-side-combined aggregates (shuffles key only on the
    sketch row index / candidate key, never a raw-event id) and probed
    via BROADCAST joins — the fact side never sort-merge joins."""
    plan = _plan(spark, "cms_heavy_hitters")
    keys = set(re.findall(r"Arguments: hashpartitioning\((\w+)#", plan))
    assert keys <= {"d", "user_id"}, keys
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmv_rollup_fixed_size_state_no_join(spark):
    """KMV daily rollup: one hash-exchange chain on (bucket, hash) with
    per-group top-k retention — no join anywhere, state is the k
    smallest hashes per bucket regardless of input rows."""
    plan = _plan(spark, "kmv_daily_rollup")
    keys = set(re.findall(r"Arguments: hashpartitioning\((\w+)#", plan))
    assert keys <= {"_h", "bucket_ms"}, keys
    assert "Join" not in plan


def test_global_percentiles_no_single_reducer_sort(spark):
    """Exact global percentiles must never funnel the column into one
    task: the ranking lineage (inspected uncheckpointed — the default
    localCheckpoint truncates the plan, same as dataset_shuffle) ranks
    via range partitioning + Arrow enumerate (the zipWithIndex shape),
    with no unpartitioned Window and no percentile() buffering
    aggregate; the registry query's final plan stays percentile()-free."""
    from streambench_spark.catalog import load_table
    from streambench_spark.operators.aggregates import exact_percentiles_sorted

    ev = load_table(spark, SF_DIR, "events")
    lineage = exact_percentiles_sorted(
        ev, "value", {"p95_raw": 0.95, "p99_raw": 0.99}, checkpoint=False
    )
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        lineage._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" in plan
    assert "MapInPandas" in plan
    assert "percentile(" not in plan
    # no Window over the raw value column (that would be the
    # single-reducer unpartitioned row_number); the only Window allowed
    # orders the tiny per-partition sizes frame by _pid
    assert "windowspecdefinition(value" not in plan
    full = _plan(spark, "global_percentiles")
    assert "percentile(" not in full


def test_grouped_percentiles_window_sort_not_buffering(spark):
    """Per-group exact percentiles ride a spillable window sort keyed on
    the group, not percentile()'s in-memory per-group array buffer."""
    plan = _plan(spark, "grouped_percentiles")
    assert "percentile(" not in plan
    keys = set(re.findall(r"Arguments: hashpartitioning\((\w+)#", plan))
    assert keys == {"event_type"}, keys


def test_gini_rank_is_distributed_not_single_task(spark):
    """activity_gini's global rank must ride the range-partitioned
    zipWithIndex lineage (inspected uncheckpointed via the helper), with
    no unpartitioned data window; the tiny offsets window is the only
    Window allowed."""
    import pyspark.sql.functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.operators.relational import global_row_number

    ev = load_table(spark, SF_DIR, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    lineage = global_row_number(
        c, [F.asc("cnt"), F.asc("user_id")], rank_col="rk",
        total_col="n", checkpoint=False,
    )
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        lineage._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" in plan
    assert "MapInPandas" in plan
    # no window over the data columns (cnt/user_id) — only the
    # per-partition sizes cumsum ordered by _pid
    assert "windowspecdefinition(cnt" not in plan
    assert "windowspecdefinition(user_id" not in plan


def test_abc_prefix_sum_is_distributed_not_single_task(spark):
    """abc_classification's cumulative revenue must ride the
    range-partitioned global_prefix_sum lineage — the same pin the
    global_row_number consumers carry: no ``sum().over(orderBy)`` with
    an empty PARTITION BY over the part-cardinality frame (that plans a
    single-partition Exchange), only the tiny _pid offsets window."""
    import pyspark.sql.functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.operators.relational import global_prefix_sum

    li = load_table(spark, SF_DIR, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
    )
    lineage = global_prefix_sum(
        p, [F.desc("cents"), F.asc("l_partkey")], "cents",
        cum_col="cum", total_col="tot", checkpoint=False,
    )
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        lineage._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" in plan
    assert "MapInPandas" in plan
    # the running sum must NOT be a window over the data columns
    assert "windowspecdefinition(cents" not in plan
    assert "windowspecdefinition(l_partkey" not in plan


def test_tfidf_single_corpus_scan(spark):
    """tfidf_top_terms' r08 re-plan, pinned: document frequency comes
    from a count window over the ONE (doc_id, term, tf) table — the old
    self-join onto a re-derived tf compiled to TWO full scan→explode→agg
    pipelines (different exchange children defeat ReusedExchange)."""
    plan = _plan(spark, "tfidf_top_terms")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_bigram_lm_two_corpus_scans(spark):
    """bigram_lm_score's r08 re-plan, pinned: the c12/c1 model counts
    are windows over the single bigram stream (one corpus scan) plus
    the separate unigram scan for V (kept deliberately: V counts tokens
    of single-token docs, which never enter a bigram) — down from four
    corpus passes in the join form. The only join left is the 1-row
    broadcast of V."""
    plan = _plan(spark, "bigram_lm_score")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    joins = re.findall(r"\(\d+\) (\w*BroadcastNestedLoopJoin|\w*Join\w*)", plan)
    assert all("BroadcastNestedLoop" in j for j in joins), joins


def test_itempairs_basket_local_single_corpus_exchange(spark):
    """frequent_itempairs' r11 re-plan, pinned: pair expansion is
    basket-local — the corpus enters ONE exchange (the l_orderkey
    collect_set aggregate) and ordered pairs come from Generate nodes
    over the basket arrays, with NO self-join anywhere (the old shape
    shuffled the distinct'd baskets into both sides of a join). The
    only joins left attach item counts and the 1-row basket total."""
    plan = _plan(spark, "frequent_itempairs")
    assert "ObjectHashAggregate" in plan          # collect_set partials
    assert "Generate" in plan                     # row-local pair explode
    assert "SortMergeJoin" not in plan            # the self-join is gone
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", plan)
    # item-count + basket-total attachments only — all broadcast-side
    assert all("Broadcast" in j for j in joins), joins


def test_copurchase_edges_split_by_consumer(spark):
    """The r11 basket-local flag, pinned per consumer: the single-pass
    degree_distribution opts IN (no join in its edge build), while the
    iterative graph consumers measured faster on the self-join and must
    keep it (triangles' edge build joins lineitem to lineitem)."""
    deg = _plan(spark, "copurchase_degree_distribution")
    assert "ObjectHashAggregate" in deg           # collect_set edge build
    assert not re.findall(r"\(\d+\) SortMergeJoin", deg)
    tri = _plan(spark, "copurchase_triangles")
    # the lineitem self-join survives among the node-keyed SMJs
    # (triangles also uses collect_list adjacency, so ObjectHashAggregate
    # presence can't discriminate — join count does)
    assert re.findall(r"\(\d+\) SortMergeJoin", tri)
