"""Non-windowed aggregations from SURVEY.md §2.4.

- A7 batch grouped max            SparkYahooRunner.scala:136-137
- A8 global multi-agg + percentiles SparkYahooRunner.scala:139-144
- A9 throughput counting is read from progress events by
  perfbench/ysb_live; its latency samples go through
  bench/harness.latency_report

``percentile`` (exact) is used instead of ``percentile_approx`` when an
oracle must hash-match (DuckDB quantile_cont is exact);
``bench/harness.latency_analysis`` keeps ``percentile_approx`` for the
reference-faithful latency metric where approximation is the documented
semantic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouped_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """A7 generalization: hash aggregate with map-side partials."""
    return df.groupBy(*keys).agg(*aggs)


def salted_grouped_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant two-phase aggregate: group by (keys, salt) first —
    spreading a hot key over ``salt_buckets`` reducers — then re-aggregate
    the partials by the true keys.

    Semantically identical to a plain groupBy for any decomposable
    aggregate (sum/count/min/max: pass the partial as ``partial_aggs``
    and its combiner as ``final_aggs`` over the partial's column name).
    Catalyst's map-side partial aggregation already handles *moderate*
    skew; explicit salting is for the pathological case where one key's
    partials alone overwhelm a single reducer — the standard 100 TB
    mitigation alongside AQE's skew-join splitting (which only covers
    joins, not aggregations).
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(),
                        F.lit(salt_buckets))
    )
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def global_percentiles(
    df: DataFrame, col: str, exact: bool = False
) -> DataFrame:
    """A8: min/mean/p95/p99/max over a numeric column, one result row.

    The reference computes this over latency diffs with percentile_approx
    (SparkYahooRunner.scala:139-144). Exact mode mirrors DuckDB
    quantile_cont for oracle checks.
    """
    c = F.col(col)
    if exact:
        p95 = F.expr(f"percentile({col}, 0.95)")
        p99 = F.expr(f"percentile({col}, 0.99)")
    else:
        p95 = F.percentile_approx(c, 0.95)
        p99 = F.percentile_approx(c, 0.99)
    return df.agg(
        F.min(c).alias("min_v"),
        F.avg(c).alias("avg_v"),
        p95.alias("p95_v"),
        p99.alias("p99_v"),
        F.max(c).alias("max_v"),
    )


def exact_percentiles_sorted(
    df: DataFrame,
    col: str,
    quantiles: dict[str, float],
    keys: list[str] | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Exact linear-interpolation percentiles (quantile_cont semantics:
    position h = (n-1)·q on the 0-based sorted values, result =
    v[floor(h)] + (h - floor(h))·(v[ceil(h)] - v[floor(h)])) computed by
    DISTRIBUTED SORT instead of Spark's ``percentile()``, whose
    TypedImperativeAggregate buffers every value of a group in ONE
    executor's memory — the per-group collect anti-pattern this engine
    bans elsewhere.

    Grouped path: one hash exchange on the keys + a window sort — Spark's
    external sort SPILLS, so a hot group costs disk, not an OOM; the
    percentile rows are then picked by rank and interpolated relationally.

    Global path (keys=None): ``repartitionByRange`` on the value (sampled
    bounds → parallel, spillable sort shards) + per-partition Arrow
    enumerate + broadcast cumulative offsets — the zipWithIndex shape of
    ``llm/sampling.py:dataset_shuffle`` — so no single reducer ever holds
    the column. An unpartitioned row_number window would serialize on one
    task; ``percentile()`` would buffer 100 TB of doubles on one executor.

    Exactness: the interpolation uses the TWO-SIDED weighted form
    v_lo·(ceil(h)−h) + v_hi·(h−floor(h)) — what both Spark's
    ``percentile()`` and DuckDB quantile_cont evaluate internally (the
    algebraically-equal lerp v_lo + frac·(v_hi−v_lo) differs in the last
    ulp: measured on (−1e−05, 0.0, q=0.95), lerp gives …003e−07 where
    both engines give …005e−07) — so results hash-match DuckDB
    bit-for-bit with no rounding needed, and a property test pins
    equality with ``percentile()`` on random inputs. Integral h (both
    rank rows are the same row) returns v_lo exactly. Ties order doesn't
    matter (equal straddle values interpolate through the same two
    products on both engines), but note ``percentile()`` SHORT-CIRCUITS
    an equal straddle to the value itself while quantile_cont computes
    the products — they differ where the products round away (measured:
    [5e-324, 5e-324] @ q50 → 0.0 here and in DuckDB, 5e-324 from the
    builtin; tests/test_properties.py pins the oracle side of that
    corner). Returns one row per
    key group: keys + one column per ``quantiles`` alias. The caller
    joins min/avg/max style companions from a plain aggregate (cheap:
    both sides are group-cardinality).
    """
    from pyspark.sql import Window

    keys = keys or []
    v = F.col(col)
    # percentile()/quantile_cont IGNORE NULLs; an asc sort would rank
    # them FIRST (NULLS FIRST) and count them in _n, shifting every h.
    # Drop them up front. Caveat vs the builtin: a group whose values
    # are ALL NULL disappears from the output instead of emitting a
    # NULL-percentile row — callers needing those groups outer-join the
    # result back onto the key frame.
    df = df.filter(v.isNotNull())
    if keys:
        w = Window.partitionBy(*keys).orderBy(col)
        wn = Window.partitionBy(*keys)
        ranked = df.select(*keys, col).select(
            *keys,
            col,
            (F.row_number().over(w) - 1).alias("_rn"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
    else:
        from streambench_spark.operators.relational import global_row_number

        ranked = global_row_number(
            df.select(v.alias(col)),
            [F.asc(col)],
            rank_col="_rn1",
            total_col="_n",
            checkpoint=checkpoint,
        ).select(col, (F.col("_rn1") - 1).alias("_rn"), "_n")

    def pos(q: float):
        return (F.col("_n") - 1).cast("double") * F.lit(q)

    # candidate rows: the floor/ceil rank of ANY requested quantile —
    # at most 2·len(quantiles) rows per group survive into the final agg
    cand = None
    for q in quantiles.values():
        c = (F.col("_rn") == F.floor(pos(q))) | (F.col("_rn") == F.ceil(pos(q)))
        cand = c if cand is None else (cand | c)
    picked = ranked.filter(cand)

    aggs = []
    for alias, q in quantiles.items():
        h_row = pos(q)  # per-row copy of h, used inside pre-agg when()s
        vlo = F.max(F.when(F.col("_rn") == F.floor(h_row), v))
        vhi = F.max(F.when(F.col("_rn") == F.ceil(h_row), v))
        # h again on the aggregated side (n is constant per group)
        h = (F.max("_n") - 1).cast("double") * F.lit(q)
        two_sided = vlo * (F.ceil(h) - h) + vhi * (h - F.floor(h))
        aggs.append(
            F.when(F.ceil(h) == F.floor(h), vlo)
            .otherwise(two_sided)
            .alias(alias)
        )
    return picked.groupBy(*keys).agg(*aggs)


def kmv_distinct(
    df: DataFrame, group_keys: list[str], col: str, k: int = 32,
    hash_mode: str = "md5",
) -> DataFrame:
    """K-minimum-values distinct-count sketch per group — a mergeable
    sketch with a DETERMINISTIC, oracle-replicable construction (portable
    md5-based hash, llm/hashing.py): keep the k smallest distinct hash
    values; estimate = (k-1) · P / kth_smallest, exact count when fewer
    than k distinct hashes exist. ``hash_mode="xxhash64"`` swaps the md5
    chain for Spark's codegen'd integer kernel (same [0, 2^32) domain,
    not DuckDB-checkable — proven by the dual-mode property tests in
    tests/test_hash_modes.py, like the CMS/Bloom/dedup/sampling builders).

    Why a sketch when Spark has approx_count_distinct: HLL registers are
    engine-internal (not checkable against another engine, not readable
    downstream); KMV retained sets are plain integers — mergeable across
    groups/windows by unioning retained sets and re-taking the k smallest
    (see merge test), which is what a rollup over sketches needs.

    Plan shape: distinct on (group, hash) → per-group k-smallest via a
    row_number window (one shuffle on the group key). The 100 TB path is
    ``kmv_retained_partial`` (map-side per-partition k-smallest, shuffle
    bounded by k·partitions per group) — identical retained sets, pinned
    by tests/test_sketches.py.
    """
    return kmv_estimate(
        kmv_retained(df, group_keys, col, k, hash_mode=hash_mode),
        group_keys, k,
    )


def kmv_retained(
    df: DataFrame, group_keys: list[str], col: str, k: int = 32,
    hash_mode: str = "md5",
) -> DataFrame:
    """The KMV sketch ITSELF: per group, the k smallest distinct portable
    hashes of ``col`` as plain (group..., _h) rows. This is the mergeable
    representation — union retained frames from any partitioning of the
    data (days, shards, engines) and re-take the k smallest per group to
    get the sketch of the union, exactly (no approximation is introduced
    by merging). ``kmv_distinct`` = estimator over this frame."""
    from pyspark.sql import Window

    from streambench_spark.llm.hashing import MERSENNE_P, spark_hash32

    if k < 2:
        # (k-1)·P/kth is identically 0 at k=1 — a silent wrong estimate
        # for every group (r08 review)
        raise ValueError(f"KMV needs k >= 2, got {k}")
    h = spark_hash32(f"CAST({col} AS STRING)", mode=hash_mode)
    # NULL values hash to NULL; drop them (COUNT(DISTINCT) semantics —
    # and a NULL would otherwise sort into the retained set's first
    # slot, corrupting the kth-smallest estimator)
    hashed = df.select(
        *group_keys, F.expr(f"{h} % {MERSENNE_P}L").alias("_h")
    ).filter(F.col("_h").isNotNull()).distinct()
    w = Window.partitionBy(*group_keys).orderBy("_h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_retained_partial(
    df: DataFrame, group_keys: list[str], col: str, k: int = 32,
    hash_mode: str = "md5",
) -> DataFrame:
    """``kmv_retained`` with MAP-SIDE PARTIALS — the 100 TB shape the
    plain version's docstring promises: each input partition first
    reduces itself to its own k smallest distinct hashes per group in a
    NARROW Arrow pass (no exchange), so the one shuffle that follows
    carries at most k · num_partitions rows per group instead of every
    distinct hash. This is exactly what a custom TypedImperativeAggregate
    would do, expressed as mapInPandas + the existing relational merge
    (KMV merge = union retained sets, re-take k smallest — lossless by
    construction, so the result frame is IDENTICAL to kmv_retained's;
    pinned by tests/test_sketches.py).

    Per-task state: one (group → k smallest hashes) dict — bounded by
    groups-per-partition · k longs, the same contract every mergeable
    sketch here carries. Use when distinct cardinality per group is much
    larger than k (the regime where sketches matter); at test SF the
    plain version's single distinct+window is cheaper.
    """
    from pyspark.sql import Window

    from streambench_spark.llm.hashing import MERSENNE_P, spark_hash32

    if k < 2:
        raise ValueError(f"KMV needs k >= 2, got {k}")
    h = spark_hash32(f"CAST({col} AS STRING)", mode=hash_mode)
    hashed = df.select(
        *group_keys, F.expr(f"{h} % {MERSENNE_P}L").alias("_h")
    ).filter(F.col("_h").isNotNull())
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in hashed.schema.fields
    )
    keys = list(group_keys)

    def _local_topk(batches):
        import heapq

        import pandas as pd

        # group tuple -> (max-heap of negated k smallest, membership set);
        # the set keeps the heap DISTINCT — a duplicate hash sneaking into
        # a full heap would evict a legitimately-retained value
        best: dict = {}
        for pdf in batches:
            hvals = pdf["_h"].to_numpy()
            # object dtype + notna→None: a NULL group key arrives as NaN
            # in a float-coerced numpy column, and nan != nan would mint
            # a FRESH dict entry per NULL row — unbounded state and a
            # NaN-in-long output column. None is hashable and equal to
            # itself, so NULLs form one group, matching kmv_retained's
            # relational groupBy (r08 review).
            gcols = [
                pdf[c].astype(object).where(pd.notna(pdf[c]), None).to_numpy()
                for c in keys
            ]
            for idx in range(len(hvals)):
                g = tuple(c[idx] for c in gcols)
                hv = int(hvals[idx])
                heap, seen = best.setdefault(g, ([], set()))
                if hv in seen:
                    continue
                if len(heap) < k:
                    heapq.heappush(heap, -hv)
                    seen.add(hv)
                elif hv < -heap[0]:
                    evicted = -heapq.heappushpop(heap, -hv)
                    seen.discard(evicted)
                    seen.add(hv)
        out_rows = [
            (*g, -neg) for g, (heap, _) in best.items() for neg in heap
        ]
        if out_rows:  # empty partition → yield nothing (Arrow-safe)
            yield pd.DataFrame(out_rows, columns=[*keys, "_h"])

    partials = hashed.mapInPandas(_local_topk, schema=schema)
    # merge: union of per-partition retained sets → distinct → k smallest
    w = Window.partitionBy(*keys).orderBy("_h")
    return (
        partials.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_estimate(
    retained: DataFrame, group_keys: list[str], k: int = 32
) -> DataFrame:
    """(group..., n_kept, estimate) from a retained-hash frame: exact
    count below k, else the (k-1)*P/kth_smallest estimator."""
    from streambench_spark.llm.hashing import MERSENNE_P

    return (
        retained.groupBy(*group_keys)
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("_h").alias("_kth"))
        .select(
            *group_keys,
            "n_kept",
            F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
            .otherwise(
                F.round(
                    F.lit(float(k - 1)) * F.lit(float(MERSENNE_P)) / F.col("_kth"), 6
                )
            )
            .alias("estimate"),
        )
    )
