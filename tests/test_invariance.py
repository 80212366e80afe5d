"""Partition-invariance: results must be bit-identical across different
parallelism settings — the property that makes the integer-cents /
portable-hash / exact-percentile engineering hold on a real cluster,
where partition counts differ from the test session's."""

from __future__ import annotations

import pytest

from streambench_spark.plans.queries import REGISTRY
from tests.conftest import SF_DIR

# float- or order-sensitive representatives from each family
QUERIES = [
    "global_percentiles",       # exact percentile interpolation
    "grouped_percentiles",
    "tfidf_top_terms",          # ranking with tie-breaks
    "embedding_topk_cosine",    # float matmul + rounding
    "neardup_embedding_lsh",    # banded candidates + distinct
    "tpch_q1_pricing_summary",  # integer-cents sums
    "hypertable_rollup",        # cascade re-aggregation
    "sequence_packing",         # prefix-sum fold
]


@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_under_parallelism(spark, name):
    def run(parts):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            df = REGISTRY[name].fn(spark, SF_DIR)
            return sorted(tuple(r) for r in df.collect())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    assert run(1) == run(32)


@pytest.mark.parametrize(
    "builder", ["partitioned", "partitioned_datacopy", "schema_evolution"]
)
def test_parquet_roundtrips_hermetic_under_foreign_confs(spark, builder):
    """r04's only driver-red row: events_partitioned_source hash-mismatched
    under the DRIVER's session while every local run agreed with the
    oracle. Every parquet write-then-read-back helper that carries
    timestamps must therefore be hermetic — identical results even when
    the calling session carries adversarial parquet/timestamp confs
    (non-UTC zone, INT96 output, LEGACY rebase), which is exactly the
    state a foreign session can hand us."""
    from pyspark.sql import functions as F

    from streambench_spark.sources.replay import (
        partitioned_roundtrip_table,
        schema_evolution_roundtrip,
    )

    def build():
        if builder == "partitioned":
            return partitioned_roundtrip_table(spark, SF_DIR, "events", "event_type")
        if builder == "partitioned_datacopy":
            # the registered query's exact shape since the r07 bisect:
            # filter on the duplicated data column, not the partition value
            return partitioned_roundtrip_table(
                spark, SF_DIR, "events", "event_type", data_copy_col="event_type_d"
            )
        return schema_evolution_roundtrip(spark, SF_DIR, "events")

    filter_col = "event_type_d" if builder == "partitioned_datacopy" else "event_type"

    def agg(df):
        return sorted(
            tuple(r)
            for r in df.filter(F.col(filter_col) == "view")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
                F.unix_millis(F.max("ts")).alias("t"),
            )
            .collect()
        )

    adversarial = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.parquet.outputTimestampType": "INT96",
        "spark.sql.parquet.int96RebaseModeInWrite": "LEGACY",
        "spark.sql.parquet.int96RebaseModeInRead": "LEGACY",
        "spark.sql.parquet.datetimeRebaseModeInWrite": "LEGACY",
        "spark.sql.parquet.datetimeRebaseModeInRead": "LEGACY",
        "spark.sql.parquet.mergeSchema": "true",
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        # widened in r06 (the conf surface two driver-red rounds never
        # explained — exercise every remaining parquet/inference knob a
        # foreign session could plausibly hold)
        "spark.sql.parquet.compression.codec": "gzip",
        "spark.sql.parquet.enableVectorizedReader": "false",
        "spark.sql.parquet.filterPushdown": "false",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.parquet.binaryAsString": "true",
        "spark.sql.parquet.int96AsTimestamp": "false",
        "spark.sql.files.maxPartitionBytes": "1048576",
    }
    clean = agg(build())
    saved = {k: spark.conf.get(k, None) for k in adversarial}
    try:
        for k, v in adversarial.items():
            spark.conf.set(k, v)
        dirty = agg(build())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert clean == dirty


def test_repartition_for_compute_gates_on_width(spark):
    """Narrow plans widen to the target; already-wide plans are untouched
    (no gratuitous full-corpus shuffle on a many-split source)."""
    from streambench_spark.catalog import repartition_for_compute

    narrow = spark.range(0, 100, 1, 1)
    widened = repartition_for_compute(narrow, 8)
    assert widened.rdd.getNumPartitions() == 8

    wide = spark.range(0, 100, 1, 16)
    same = repartition_for_compute(wide, 8)
    assert same is wide  # identity: no shuffle inserted


def test_dataset_shuffle_order_invariant_and_dense(spark):
    """The epoch-shuffle order is a pure function of (key, seed): the
    same bijection 0..N-1 regardless of input partitioning."""
    from streambench_spark.catalog import load_table
    from streambench_spark.llm.sampling import dataset_shuffle

    docs = load_table(spark, SF_DIR, "documents")

    def run(parts):
        out = dataset_shuffle(docs.repartition(parts))
        return sorted((r["doc_id"], r["shuffle_pos"]) for r in out.collect())

    a, b = run(1), run(13)
    assert a == b
    positions = [p for _, p in a]
    assert sorted(positions) == list(range(len(positions)))  # dense bijection


def test_skew_probe_twins_agree_on_skewed_frame(spark):
    """The plain and skew-safe twins (groupBy vs salted_grouped_agg,
    interval_join vs interval_join_banded) return IDENTICAL results on a
    frame where one user owns ~10% of events — the skew a salted or
    banded plan exists for, so their timings compare like for like."""
    import pyspark.sql.functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.operators.aggregates import salted_grouped_agg
    from streambench_spark.operators.relational import (
        interval_join,
        interval_join_banded,
    )

    ev = (
        load_table(spark, SF_DIR, "events")
        .withColumn(
            "user_id",
            F.when(F.col("event_id") % 10 == 0, F.lit(0)).otherwise(
                F.col("user_id") + 1
            ),
        )
        .select(
            "event_id", "user_id", "ts", "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    plain_agg = sorted(
        tuple(r)
        for r in ev.groupBy("user_id")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    salted_agg = sorted(
        tuple(r)
        for r in salted_grouped_agg(
            ev,
            keys=["user_id"],
            partial_aggs=[F.sum("cents").alias("ps"), F.count(F.lit(1)).alias("pn")],
            final_aggs=[F.sum("ps").alias("s"), F.sum("pn").alias("n")],
        ).collect()
    )
    assert plain_agg == salted_agg

    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    # sf0.001 is sparse (1k events / 30 days): a 5-minute band matches
    # nothing, so the equality would hold vacuously — widen to 1 day here;
    # the bench probe at sf0.1 uses the production 5-minute band
    plain_j = sorted(
        tuple(r)
        for r in interval_join(
            purchases, views, key="user_id",
            left_ts="pts", right_ts="ts", upper="1 day",
        ).select("l.user_id", "pts", "ts").collect()
    )
    banded_j = sorted(
        tuple(r)
        for r in interval_join_banded(
            purchases, views, key="user_id",
            left_ts="pts", right_ts="ts", upper="1 day",
        ).select("l.user_id", "pts", "ts").collect()
    )
    assert plain_j == banded_j and len(plain_j) > 0


def test_ntile_closed_form_matches_window_ntile(spark):
    """ntile_from_rank must reproduce ntile(k) OVER (ORDER BY ...) for
    every row count 1..40 and k in {3, 4, 7} — including n < k, exact
    multiples, and every remainder class."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from streambench_spark.operators.relational import ntile_from_rank

    for n in (1, 2, 3, 4, 5, 6, 7, 8, 12, 13, 25, 40):
        df = spark.range(1, n + 1).select(F.col("id").alias("rk"))
        for k in (3, 4, 7):
            ref = {
                r["rk"]: r["b"]
                for r in df.select(
                    "rk", F.ntile(k).over(Window.orderBy("rk")).alias("b")
                ).collect()
            }
            got = {
                r["rk"]: r["b"]
                for r in df.select(
                    "rk",
                    ntile_from_rank(F.col("rk"), F.lit(n).cast("long"), k)
                    .cast("int")
                    .alias("b"),
                ).collect()
            }
            assert got == ref, (n, k)


def test_zorder_key_nonnegative_on_int_columns(spark):
    """Regression for the round-4 review find: 32-bit int inputs pushed
    the b-side spread into the INT sign bit for b >= 32768, producing
    negative keys that invert the sort clustering."""
    import pyspark.sql.functions as F

    from streambench_spark.operators.scalars import zorder_key

    df = spark.createDataFrame(
        [(0, 32768), (65535, 65535), (1, 2)], "a int, b int"
    )
    rows = df.select(
        zorder_key(F.col("a"), F.col("b")).alias("z")
    ).collect()
    assert all(r["z"] >= 0 for r in rows)
    # interleave of (65535, 65535) fills all 32 low bits
    assert max(r["z"] for r in rows) == 0xFFFFFFFF


def test_topk_oracle_excludes_zero_norm_vectors(spark, tmp_path):
    """Regression for the round-4 review find: a zero-norm vector's 0/0
    cosine is NULL in SQL, which row_number ranked into rn=1 — the
    oracle emitted a (vec_id, neighbor, NULL) row the Spark kernels
    (isfinite filter) never produce. The oracle now drops zero-norm
    vectors on both roles."""
    import duckdb

    from streambench_spark.llm import similarity
    from streambench_spark.plans.llm_queries import _topk_oracle

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.9, 0.1], 0),
            (3, [0.0, 0.0], 0),  # zero-norm: no output row, never a neighbor
        ],
        "vec_id long, embedding array<float>, label int",
    )
    sf = str(tmp_path)
    emb.coalesce(1).write.mode("overwrite").parquet(sf + "/embeddings.parquet")
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf}/embeddings.parquet/*.parquet'"
    )
    got = sorted(
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.brute_force_top1(emb).collect()
    )
    want = sorted(
        (r[0], r[1])
        for r in duck.sql(
            _topk_oracle("a.vec_id <> b.vec_id")
        ).fetchall()
    )
    assert got == want == [(1, 2), (2, 1)]


def test_tokenizer_oracle_matches_java_whitespace(spark, tmp_path):
    """Regression: DuckDB's RE2 \\s EXCLUDES vertical tab (U+000B) while
    Java's \\s includes it, so a bare '\\s+' oracle diverges from Spark's
    split on the first document containing one. The oracles now use the
    explicit Java class [ \\t\\n\\x0B\\f\\r]."""
    import duckdb

    from streambench_spark.llm import text as text_ops
    from streambench_spark.plans.llm_queries import _D_TOKENS

    docs = spark.createDataFrame(
        [(1, "a\x0bb c", "en", "src1", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")
    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    spark_n = text_ops.token_counts(docs).first()["n_ws_tokens"]
    duck_n = duck.sql(
        f"SELECT len({_D_TOKENS.format(col='text')}) FROM documents"
    ).fetchone()[0]
    assert spark_n == duck_n == 3  # 'a', 'b', 'c' — \x0B splits on BOTH sides


def test_text_roundtrip_preserves_microseconds(spark):
    """The csv/json wire carries epoch-MICROS (r08: the earlier millis
    wire silently truncated sub-ms components on ~99.95% of events rows,
    invisible to the ms-floored registry aggregates). The roundtrip must
    be EXACTLY lossless at Spark's native timestamp precision."""
    import pyspark.sql.functions as F

    from streambench_spark.catalog import load_table
    from streambench_spark.sources.replay import roundtrip_table
    from tests.conftest import SF_DIR

    src = load_table(spark, SF_DIR, "events").select("event_id", "ts")
    for fmt in ("csv", "json"):
        back = roundtrip_table(spark, SF_DIR, "events", fmt).select(
            "event_id", F.col("ts").alias("ts_rt")
        )
        diff = (
            src.join(back, "event_id")
            .filter(F.col("ts") != F.col("ts_rt"))
            .count()
        )
        assert diff == 0, f"{fmt}: {diff} rows lost timestamp precision"
    # and the source really does exercise sub-ms precision (else this
    # test proves nothing)
    submy = src.filter(F.unix_micros("ts") % 1000 != 0).count()
    assert submy > 0


def test_text_roundtrip_refuses_ntz(spark):
    """timestamp_ntz has no session-independent epoch-integer text
    encoding — the helper must refuse instead of silently re-typing the
    column and shifting wall time under a non-UTC session (the guard the
    parquet twin documents; r08 review)."""
    import pytest

    from streambench_spark.sources.replay import roundtrip_table
    from tests.conftest import SF_DIR

    # orders.o_orderdate is stored as timestamp_ntz in the testdata
    with pytest.raises(ValueError, match="timestamp_ntz"):
        roundtrip_table(spark, SF_DIR, "orders", "csv")


def test_invariance_probe_covers_all_five_axes():
    """The registry-wide audit (scripts/invariance_probe.py) must keep
    all five variant axes: partition layout, Arrow batch size, codegen
    off (r12), auto-broadcast off, and vectorized readers off (r13).
    Each axis models a fallback a real cluster hits WITHOUT a conf
    change; silently dropping one would shrink the recorded
    '219/219 bit-identical' claim without any signal."""
    import importlib

    probe = importlib.import_module("scripts.invariance_probe")
    assert set(probe._VARIANTS) == {
        "partition", "arrow", "codegen", "joins", "scan",
    }
    assert probe._VARIANTS["joins"]["spark.sql.autoBroadcastJoinThreshold"] == "-1"
    assert (
        probe._VARIANTS["scan"]["spark.sql.parquet.enableVectorizedReader"]
        == "false"
    )
