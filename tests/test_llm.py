"""LLM-data-pipeline operator tests: dedup, similarity, text analysis,
multimodal binary plumbing. Registry-vs-oracle equivalence for these is in
test_registry.py (they're registry entries); here we test the operator
semantics directly on small constructed inputs plus the testdata corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streambench_spark.catalog import load_table
from streambench_spark.llm import dedup, multimodal, similarity, text
from tests.conftest import SF_DIR


def test_exact_dedup_collapses_normalized_copies(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),
            (3, "  HELLO   WORLD "),
            (4, "something else"),
        ],
        "doc_id long, text string",
    )
    out = {r["canonical_id"]: r["n_copies"] for r in dedup.exact_dedup_groups(docs).collect()}
    assert out == {1: 3, 4: 1}


def test_minhash_lsh_matches_exact_jaccard_on_corpus(spark):
    """On the planted near-dups (J >= 0.9, clean gap below 0.07) banded
    LSH at 8 bands x 2 rows must recover exactly the exact-Jaccard pairs."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()
    }
    assert len(exact) > 0
    assert lsh == exact


def test_capped_jaccard_subset_of_exact(spark):
    """The df-capped scale path reports a subset of the exact pairs, and
    every reported jaccard equals the exact value (verify is exact)."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in dedup.ngram_jaccard_pairs_capped(docs, 0.5).collect()}
    assert set(capped) <= set(exact)
    assert all(exact[k] == v for k, v in capped.items())
    assert len(capped) > 0


def test_signature_plans_hash_once_per_shingle(spark):
    """Pin the single-md5 property of the signature builders: the
    portable-hash chain must appear exactly once in the physical plan.
    Aggregates/Projects reference child attributes, so Catalyst does not
    re-inline the hash the way filter-predicate pushdown does (the
    bloom_probe trap, tests/test_sketches.py) — this guard catches any
    refactor that moves the hash into a multi-reference filter/condition
    context, which costs num_hashes x md5 per shingle at corpus scale."""
    docs = load_table(spark, SF_DIR, "documents")
    for builder in (
        lambda d: dedup.minhash_signatures(d, num_hashes=16),
        lambda d: dedup.simhash_fingerprints(d),
    ):
        plan = builder(docs)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("md5") == 1, plan
    # same single-eval property in the production hash mode
    for builder in (
        lambda d: dedup.minhash_signatures(d, num_hashes=16, hash_mode="xxhash64"),
        lambda d: dedup.simhash_fingerprints(d, hash_mode="xxhash64"),
    ):
        plan = builder(docs)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("xxhash64") == 1, plan
        assert "md5" not in plan, plan


def test_simhash_near_dups_have_small_hamming_distance(spark):
    docs = load_table(spark, SF_DIR, "documents")
    pair = dedup.ngram_jaccard_pairs(docs, 0.9).orderBy("id_a", "id_b").first()
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(docs).select("doc_id", "simhash").collect()
    }

    def hamming(a, b):
        return bin(a ^ b).count("1")

    near = hamming(fps[pair["id_a"]], fps[pair["id_b"]])
    # unrelated consecutive-id pairs as the background distribution (this
    # shared-vocabulary synthetic corpus keeps even unrelated fingerprints
    # closer than random, so compare against the mean, not one sample)
    others = [i for i in sorted(fps) if i not in (pair["id_a"], pair["id_b"])][:40]
    far_mean = sum(
        hamming(fps[a], fps[b]) for a, b in zip(others[::2], others[1::2])
    ) / (len(others) // 2)
    assert near <= 6
    assert near < far_mean


def test_brute_force_top1_finds_planted_neighbor(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.99, 0.1, 0.0], 0),
            (3, [0.0, 1.0, 0.0], 1),
            (4, [0.0, 0.9, 0.1], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    top = {r["vec_id"]: r["neighbor_id"] for r in similarity.brute_force_top1(emb).collect()}
    assert top == {1: 2, 2: 1, 3: 4, 4: 3}
    ivf = {r["vec_id"]: r["neighbor_id"] for r in similarity.ivf_top1(emb).collect()}
    assert ivf == top  # planted neighbors share the label cell


def test_zero_norm_vectors_excluded_not_crashing(spark):
    """Zero vectors have undefined cosine: they must produce no output row,
    never be selected as a neighbor, and never cross a threshold — in all
    three kernels (brute force, per-cell, pair emitter)."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.99, 0.1, 0.0], 0),
            (3, [0.0, 0.0, 0.0], 0),  # zero-norm
        ],
        "vec_id long, embedding array<float>, label int",
    )
    top = {r["vec_id"]: r["neighbor_id"] for r in similarity.brute_force_top1(emb).collect()}
    assert top == {1: 2, 2: 1}
    ivf = {r["vec_id"]: r["neighbor_id"] for r in similarity.ivf_top1(emb).collect()}
    assert ivf == {1: 2, 2: 1}
    pairs = similarity.cosine_neardup_pairs(emb, 0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    # a cell containing ONLY a zero vector must also be silent
    solo = spark.createDataFrame(
        [(7, [0.0, 0.0], 0), (8, [0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    assert similarity.brute_force_top1(solo).count() == 0
    assert similarity.ivf_top1(solo).count() == 0


def test_lsh_top1_subset_of_brute_force_quality(spark):
    """Bucketed candidates: every reported neighbor shares the sign
    bucket, the reported sim equals the exact pairwise cosine (rounded
    as the kernel rounds), and the neighbor IS the in-bucket argmax —
    checked for EVERY row against a NumPy model (the round-4 test
    review found the old version never read a similarity at all)."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    lsh = similarity.lsh_top1(emb)
    withb = emb.withColumn("bucket", F.expr(similarity.lsh_bucket_expr()))
    data = {
        r["vec_id"]: (r["bucket"], np.asarray(r["embedding"], dtype=np.float64))
        for r in withb.select("vec_id", "bucket", "embedding").collect()
    }
    rows = lsh.collect()
    assert 0 < len(rows) <= emb.count()

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b) / (na * nb)

    def r6(x):
        return np.sign(x) * np.floor(abs(x) * 1e6 + 0.5) / 1e6

    for r in rows:
        vb, v = data[r["vec_id"]]
        nb_, n = data[r["neighbor_id"]]
        assert vb == nb_
        assert abs(r6(cos(v, n)) - r["sim"]) < 1e-9
        # argmax within the bucket (ties toward smaller neighbor id)
        best = max(
            ((cos(v, w), -nid) for nid, (b, w) in data.items()
             if b == vb and nid != r["vec_id"] and np.linalg.norm(w) > 0),
        )
        assert (-best[1]) == r["neighbor_id"] or abs(best[0] - cos(v, n)) < 1e-9


def test_banded_lsh_neardup_subset_of_exact(spark):
    """Banded-LSH near-dup pairs must be a subset of the exact all-pairs
    result with bit-identical sims (candidates pruned, values exact), and
    banding must find at least the pairs a single band_bits-wide table
    finds (recall amplification never loses pairs)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in similarity.cosine_neardup_pairs(emb, 0.45).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in similarity.cosine_neardup_pairs_lsh(
            emb, 0.45, n_bands=4, band_bits=2
        ).collect()
    }
    assert set(banded) <= set(exact)
    assert len(banded) > 0
    for k, v in banded.items():
        assert abs(exact[k] - v) < 1e-12
    # amplification superset only holds when the single table IS one of
    # the banded tables' bit ranges: band 0 of (4, 2) covers bits 0-1
    single = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs_lsh(
            emb, 0.45, n_bands=1, band_bits=2
        ).collect()
    }
    assert single <= set(banded)
    # production defaults (wider bands) still only emit true pairs
    defaults = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs_lsh(emb, 0.45).collect()
    }
    assert defaults <= set(exact)


def test_doc_stats_values(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat")], "doc_id long, text string"
    )
    r = text.doc_stats(docs).first()
    assert r["n_tokens"] == 6
    assert r["n_distinct"] == 5
    assert r["n_stop"] == 2  # 'the' twice
    assert r["n_chars"] == 22
    assert abs(r["avg_token_len"] - 17 / 6) < 1e-6


def test_scrub_pii_mixed_case(spark):
    """r08 verdict order: the PII automata must be case-insensitive.
    `Alice@Example.COM` and `HTTPS://...` were previously neither counted
    nor redacted; the fixture pins the fix and cross-checks the identical
    (?i) patterns under DuckDB/RE2 so the frozen oracle can't drift."""
    import hashlib

    import duckdb

    fixtures = [
        (1, "mail Alice@Example.COM now", "mail <EMAIL> now"),
        (2, "see HTTPS://Docs.Example.org/P/1 ok", "see <URL> ok"),
        (3, "call 555-0199 or visit http://x.io/a", "call <PHONE> or visit <URL>"),
        (4, "plain text, no pii at all", "plain text, no pii at all"),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in fixtures], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in text.scrub_pii(docs).collect()}
    assert (rows[1]["n_email"], rows[1]["n_url"], rows[1]["n_phone"]) == (1, 0, 0)
    assert (rows[2]["n_email"], rows[2]["n_url"], rows[2]["n_phone"]) == (0, 1, 0)
    assert (rows[3]["n_email"], rows[3]["n_url"], rows[3]["n_phone"]) == (0, 1, 1)
    assert (rows[4]["n_email"], rows[4]["n_url"], rows[4]["n_phone"]) == (0, 0, 0)
    for i, _, scrubbed in fixtures:
        assert rows[i]["scrubbed_md5"] == hashlib.md5(scrubbed.encode()).hexdigest()

    # RE2 evaluates the same automata: per-pattern counts must agree on
    # the mixed-case fixture (the registry gate only sees corpus text)
    con = duckdb.connect()
    for i, raw, _ in fixtures:
        for kind, pat, _repl in text.PII_PATTERNS:
            (n,) = con.execute(
                "SELECT len(regexp_extract_all(?, ?))", [raw, pat]
            ).fetchone()
            assert n == rows[i][f"n_{kind}"], (i, kind)


def test_lang_id_deterministic_argmax(spark):
    docs = spark.createDataFrame(
        [(1, "der hund und die katze"), (2, "the quick fox and the dog")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    assert out[1] == "de"
    assert out[2] == "en"


def test_doc_fingerprint_is_order_sensitive(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c")], "doc_id long, text string"
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in text.doc_fingerprints(docs).collect()}
    assert fps[1] == fps[3]
    assert fps[1] != fps[2]


def test_multimodal_feature_extraction_decodes_fake_images(spark):
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(b"FAKEIMG:640x480:pixeldata")),
            (2, "audio", bytearray(b"\x00\x01\x02")),
        ],
        schema=multimodal.ASSET_SCHEMA,
    )
    rows = {r["doc_id"]: r for r in multimodal.extract_features(assets).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (640, 480)
    assert rows[1]["n_bytes"] == len(b"FAKEIMG:640x480:pixeldata")
    assert rows[2]["width"] is None and rows[2]["n_bytes"] == 3
    assert len(rows[2]["payload_sha256"]) == 64


@pytest.mark.skipif(
    multimodal.HAS_PIL, reason="with Pillow installed the real codec path runs"
)
def test_decode_image_refuses_real_payloads_without_codec():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG\r\n...")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"RIFF....WAVE")


@pytest.mark.skipif(
    not multimodal.HAS_PIL, reason="Pillow not installed in this container"
)
def test_real_codec_path_with_pillow(spark):
    """Gated on PIL: the same operators decode/resize REAL images."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (64, 32)).save(buf, format="PNG")
    png = buf.getvalue()
    assert multimodal.decode_image(png) == (64, 32)
    assets = spark.createDataFrame(
        [(1, "image", bytearray(png))], schema=multimodal.ASSET_SCHEMA
    )
    feat = multimodal.extract_features(assets).collect()[0]
    assert (feat["width"], feat["height"]) == (64, 32)
    res = multimodal.resize_images(assets, target=16).collect()[0]
    assert (res["src_w"], res["src_h"], res["width"], res["height"]) == (64, 32, 16, 8)
    assert multimodal.decode_image(bytes(res["payload"])) == (16, 8)


def test_fit_box_aspect_preserving():
    assert multimodal.fit_box(640, 480, 16) == (16, 12)
    assert multimodal.fit_box(480, 640, 16) == (12, 16)
    assert multimodal.fit_box(16, 16, 16) == (16, 16)
    assert multimodal.fit_box(1000, 1, 16) == (16, 1)  # floor clamps to >= 1


def test_resize_images_tiles_body_exactly(spark):
    assets = spark.createDataFrame(
        [
            (1, "image", bytearray(b"FAKEIMG:640x480:ab")),
            (2, "audio", bytearray(b"FAKEAUD:16000:100:x")),
        ],
        schema=multimodal.ASSET_SCHEMA,
    )
    rows = {r["doc_id"]: r for r in multimodal.resize_images(assets, 16).collect()}
    r1 = rows[1]
    assert (r1["src_w"], r1["src_h"], r1["width"], r1["height"]) == (640, 480, 16, 12)
    assert bytes(r1["payload"]).startswith(b"FAKEIMG:16x12:")
    body = bytes(r1["payload"])[len(b"FAKEIMG:16x12:"):]
    assert len(body) == 16 * 12
    assert body == (b"ab" * (16 * 12 // 2 + 1))[: 16 * 12]
    # non-image passes through untouched with NULL dims
    r2 = rows[2]
    assert r2["width"] is None and bytes(r2["payload"]) == b"FAKEAUD:16000:100:x"
    # decode_audio round-trips the fake header
    assert multimodal.decode_audio(bytes(r2["payload"])) == (16000, 100)


def test_frame_sample_indices(spark):
    df = spark.range(1).select(
        F.lit(10).alias("n_frames")
    ).select(multimodal.frame_sample_indices("n_frames", 3).alias("idx"))
    assert df.first()["idx"] == [0, 3, 6, 9]


def test_write_partitioned_layout(spark, tmp_path):
    """Partitioned data-lake write: hive layout + partition pruning scan."""
    from streambench_spark.sinks.sinks import write_partitioned

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "corpus")
    write_partitioned(docs, out, ["lang"])
    import os

    assert any(d.startswith("lang=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    one = back.filter(F.col("lang") == "en")
    assert one.count() == docs.filter(F.col("lang") == "en").count()
    # partition pruning: the predicate appears as a PartitionFilter
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:100]


def test_connected_components_chain_and_islands(spark):
    from streambench_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "src long, dst long",
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_kmv_estimate_within_tolerance(spark):
    """KMV-32 over 1000 distinct values: estimator is within ~35% (3/sqrt(k)
    ≈ 0.53 at 3σ; use a loose bound — the hash is fixed, so this is a
    deterministic regression check, not a flaky statistical one)."""
    from streambench_spark.operators.aggregates import kmv_distinct

    df = spark.range(0, 1000).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    row = kmv_distinct(df, ["g"], "v", k=32).first()
    assert row["n_kept"] == 32
    assert 650 <= row["estimate"] <= 1350
    # below k distinct -> exact
    small = spark.range(0, 7).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    r2 = kmv_distinct(small, ["g"], "v", k=32).first()
    assert r2["n_kept"] == 7 and r2["estimate"] == 7.0


def test_bucketed_join_has_no_exchange(spark):
    """Bucketed-by-key tables join without ANY shuffle: the one-time
    bucketing at write replaces the per-query Exchange on both sides."""
    from streambench_spark.sinks.sinks import write_bucketed

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    write_bucketed(ev, "ev_bucketed", ["user_id"], num_buckets=4)
    write_bucketed(cust, "cust_bucketed", ["user_id"], num_buckets=4)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast: at test scale the planner would rather
        # broadcast than use the buckets (right call for a small dim; the
        # bucketed path is for two LARGE tables, which we simulate here)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("ev_bucketed").join(spark.table("cust_bucketed"), "user_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS cust_bucketed")


def test_split_stable_under_repartition_and_growth(spark):
    """The hash split is a pure function of the key: shuffling the corpus
    or appending new documents must not move any existing doc's split."""
    from streambench_spark.llm.sampling import with_split

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    base = {r["doc_id"]: r["split"] for r in with_split(docs).collect()}
    shuffled = {
        r["doc_id"]: r["split"]
        for r in with_split(docs.repartition(17).sortWithinPartitions(
            F.desc("doc_id"))).collect()
    }
    assert base == shuffled
    half = {
        r["doc_id"]: r["split"]
        for r in with_split(docs.filter(F.col("doc_id") % 2 == 0)).collect()
    }
    assert all(base[k] == v for k, v in half.items())


def test_pack_sequences_respects_budget_prefix(spark):
    """pack_id is the floor of the exclusive token prefix sum / budget:
    packs are contiguous in key order and boundaries never split a doc."""
    from streambench_spark.llm.sampling import pack_sequences

    rows = (
        pack_sequences(load_table(spark, SF_DIR, "documents"), budget_tokens=100)
        .filter(F.col("lang") == "en")
        .orderBy("doc_id")
        .collect()
    )
    run = 0
    for r in rows:
        assert r["pack_id"] == run // 100
        run += r["n_tokens"]


def test_decontaminate_flags_exact_planted_overlap(spark):
    """A training doc sharing an 8-gram with a benchmark doc is flagged
    with the exact distinct-shared-gram count; disjoint docs are not."""
    from streambench_spark.llm.sampling import contaminated_docs

    words = "alpha bravo charlie delta echo foxtrot golf hotel".split()
    bench_text = " ".join(words)  # exactly one 8-gram
    clean_text = " ".join(f"x{i}" for i in range(10))
    train = spark.createDataFrame(
        [(1, bench_text + " indigo"), (2, clean_text)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(90, bench_text)], "doc_id long, text string")
    got = {r["doc_id"]: r["n_shared"] for r in contaminated_docs(train, bench).collect()}
    assert got == {1: 1}


def test_upsample_epoch_multiplicity(spark):
    """Every doc appears exactly copies[lang] times with epochs 0..n-1."""
    from streambench_spark.llm.sampling import upsample_by_rate

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    out = upsample_by_rate(docs, {"zh": 3, "en": 1}).groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n"), F.collect_set("epoch").alias("eps")
    )
    for r in out.collect():
        want = 3 if r["lang"] == "zh" else 1
        assert r["n"] == want and sorted(r["eps"]) == list(range(want))


def test_chunk_docs_udtf_twin_equal(spark):
    """The Python-UDTF chunker must produce exactly the builtin
    expression version's rows, including edge cases: doc shorter than
    one chunk, exact-multiple length, and a chunk_tokens=1 degenerate."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # 5 tokens: 2 chunks at size 4
            (2, "x y z w"),            # exact multiple
            (3, "single"),             # shorter than a chunk
        ],
        "doc_id long, text string",
    )
    for cs in (1, 4):
        a = sorted(map(tuple, text.chunk_docs(docs, chunk_tokens=cs).collect()))
        b = sorted(map(tuple, text.chunk_docs_udtf(docs, chunk_tokens=cs).collect()))
        assert a == b, (cs, a, b)
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
           for r in text.chunk_docs(docs, chunk_tokens=4).collect()}
    assert got == {
        (1, 0): ("a b c d", 4), (1, 1): ("e", 1),
        (2, 0): ("x y z w", 4), (3, 0): ("single", 1),
    }


def test_gopher_rules_flags_each_failure_mode(spark):
    """One constructed doc per rule violation; a clean doc passes all."""
    words = " ".join(f"word{i}" for i in range(60))  # 60 words, alpha, len 5-6
    docs = spark.createDataFrame(
        [
            (1, words + " the of"),                      # clean → keep
            (2, "too short the of"),                     # word-count fails
            (3, " ".join(["####"] * 60) + " the of"),    # symbol + alpha fail
            (4, "\n".join(["- bullet line"] * 30) + "\n" + words + " the of"),
            (5, words),                                  # no 2 stopwords
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in text.gopher_rules(docs).collect()}
    assert out[1]["keep"] == 1
    assert out[2]["r_word_count"] == 0 and out[2]["keep"] == 0
    assert out[3]["r_symbol_ratio"] == 0 and out[3]["r_alpha_words"] == 0
    assert out[4]["r_bullet_lines"] == 0  # 30/31 lines bullet-started >= 90%
    assert out[5]["r_stopwords"] == 0 and out[5]["keep"] == 0


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment 1.0 while
    Jaccard is far below any useful threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"filler{i} pad{i} junk{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)],
        "doc_id long, text string",
    )
    cont = dedup.ngram_containment_pairs(docs, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in cont] == [(1, 2, 1.0)]
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.5).count() == 0


def test_dedup_keep_best_prefers_longest_then_min_id(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "A  B C"),        # same normalized content, same tokens → tie
            (3, "a b c d e"),     # different content
        ],
        "doc_id long, text string",
    )
    rows = {r["text_hash"]: r for r in dedup.exact_dedup_keep_best(docs).collect()}
    groups = {(r["best_id"], r["n_copies"], r["best_tokens"]) for r in rows.values()}
    assert groups == {(1, 2, 3), (3, 1, 5)}


def test_contamination_scores_zero_for_clean_docs(spark):
    from streambench_spark.llm import sampling as smp

    bench = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # shares the full benchmark 8-gram window prefix
            (1, "one two three four five six seven eight tail tail2"),
            (2, "clean doc with no overlap at all whatsoever here now"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in smp.contamination_scores(train, bench, n=8).collect()}
    assert out[1]["n_shared"] == 1 and out[1]["n_grams"] == 3
    assert out[1]["contamination"] == round(1 / 3, 6)
    assert out[2]["n_shared"] == 0 and out[2]["contamination"] == 0.0


def test_bigram_lm_scores_frequent_transitions_higher(spark):
    """A doc made of the corpus's dominant bigram outscores a doc of
    one-off transitions; every scored doc has negative avg log-prob."""
    from streambench_spark.llm.text import bigram_logprob_scores

    rows = [
        (1, ("the cat " * 30).strip()),  # dominant transition
        (2, "zig alpha beta gamma delta epsilon zeta eta theta"),
        (3, "the cat the cat the cat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_logprob_scores(df).collect()}
    assert set(got) == {1, 2, 3}
    assert all(r["avg_logp"] < 0 for r in got.values())
    assert got[1]["avg_logp"] > got[2]["avg_logp"]
    assert got[1]["n_bigrams"] == 59


def test_skew_safe_twins_bit_identical(spark):
    """The skew_safe=True persist+join plans (the 100 TB path for Zipfian
    hot keys, r08 advice) must reproduce the default count-window plans
    bit-for-bit, including the float fold in the bigram scores, and must
    contain no hot-key-partitioned window (the hazard they exist to
    avoid)."""
    from streambench_spark.llm.text import bigram_logprob_scores, tfidf_top_terms

    corpus = load_table(spark, SF_DIR, "documents").limit(200)
    for fn in (tfidf_top_terms, bigram_logprob_scores):
        base = sorted(map(tuple, fn(corpus).collect()))
        safe_df = fn(corpus, skew_safe=True)
        assert sorted(map(tuple, safe_df.collect())) == base
        plan = spark._sc._jvm.PythonSQLUtils.explainString(
            safe_df._jdf.queryExecution(), "formatted"
        )
        # SCOPE NOTE (r10): since the count tables are localCheckpointed,
        # their computation is lineage-truncated — this assertion covers
        # the stream/join side of the plan, not the inside of the
        # checkpoint. The checkpoint's presence is itself asserted (the
        # ExistingRDD scan), because it is what makes the join
        # AQE-skew-splittable (test_skew_safe_twin_joins_actually_
        # aqe_skew_split pins the engagement)
        assert "ExistingRDD" in plan, fn.__name__
        for key in ("term", "w1"):
            assert f"windowspecdefinition({key}" not in plan, fn.__name__


def test_skew_safe_twin_joins_actually_aqe_skew_split(spark):
    """The knob's whole value proposition, plan-proven: on a hot-key
    corpus with skew thresholds scaled to test size, the EXECUTED
    skew_safe join plans carry `skew=true` — i.e. AQE really splits the
    hot partition. The r10 probe found the original twins could never
    split: OptimizeSkewedJoin pattern-matches Sort-directly-over-stage
    children, and the counts side's final HashAggregate defeated the
    match, silently leaving the hot term/w1 one unsplittable task. The
    lazy localCheckpoint of the count tables is what restores the
    pattern; this test fails if anyone removes it."""
    import pyspark.sql.functions as F

    from streambench_spark.llm.text import (
        bigram_logprob_scores,
        tfidf_top_terms,
    )

    docs = spark.range(120_000).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', 'the', concat('t', pmod(hash(id*3), 30000)), "
            "concat('t', pmod(hash(id*3+1), 30000)))"
        ).alias("text"),
    )
    confs = {
        # scale skew detection down to the fixture's hot-partition size;
        # production uses the defaults (256 MB) — the mechanism is the
        # same, only the trip point moves
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for fn in (tfidf_top_terms, bigram_logprob_scores):
            df = fn(docs, skew_safe=True)
            df.write.format("noop").mode("overwrite").save()
            # the write plans its own execution; re-execute the frame's
            # OWN queryExecution so the adaptive plan finalizes on it
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan, (
                f"{fn.__name__}: no skew-split in the executed join — "
                "the hot key is one unsplittable task again"
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()


def test_rate_sample_salt_decorrelates_from_split(spark):
    """Composing an UNSALTED rate sample after the train-split filter
    reuses the same H(key) mod 100 draw: the intersection collapses to
    min(rate, 90) and (for rate <= 90) the sample keeps every row of the
    subset below the rate threshold. A salted draw is independent."""
    import pyspark.sql.functions as F

    from streambench_spark.llm.sampling import (
        stratified_rate_sample,
        with_split,
    )

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    train = with_split(docs).filter(F.col("split") == "train")
    rates = {"en": 50}
    unsalted = stratified_rate_sample(train, rates)
    salted = stratified_rate_sample(train, rates, salt="mix:")
    n_train = train.count()
    # unsalted: exactly the hash<50 subset of hash<90 -> ~50/90 of train
    assert abs(unsalted.count() / n_train - 50 / 90) < 0.05
    # salted: an independent 50% of train
    assert abs(salted.count() / n_train - 0.50) < 0.05
    # and the two select materially different sets
    both = unsalted.select("doc_id").intersect(salted.select("doc_id")).count()
    assert both < min(unsalted.count(), salted.count())


def test_upsample_zero_copies_drops_stratum(spark):
    """Regression for the round-4 review find: sequence(0, -1) is the
    DESCENDING [0, -1], so copies=0 doubled the stratum it was meant to
    remove."""
    from streambench_spark.llm.sampling import upsample_by_rate

    docs = spark.createDataFrame(
        [(1, "en"), (2, "zh")], "doc_id long, lang string"
    )
    out = upsample_by_rate(docs, {"en": 0, "zh": 3}, stratum_col="lang")
    rows = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
    assert rows == [(2, 0), (2, 1), (2, 2)]


def test_chunk_docs_udtf_ascii_whitespace_only(spark):
    """Regression: the UDTF twin tokenized with Python's Unicode \\s,
    splitting on U+00A0 where the builtin twin's Java \\s does not."""
    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    a = sorted(map(tuple, text.chunk_docs(docs, chunk_tokens=2).collect()))
    b = sorted(map(tuple, text.chunk_docs_udtf(docs, chunk_tokens=2).collect()))
    assert a == b
    # 'a b' must stay ONE token on both paths: exactly one 2-token
    # chunk — if BOTH twins started splitting on NBSP in lockstep there
    # would be two chunks and a == b alone would not catch it
    assert len(a) == 1
    assert a[0][3] == 2  # n_tokens of the single chunk: ['a b', 'c']


def test_keep_best_fuzzy_group_ranks_by_length(spark):
    """With a FUZZY group key (here: a source id standing in for a
    simhash bucket) keep-best genuinely ranks by token count — the
    truncated-scrape case. Under the default sha256-exact grouper the
    ranking degenerates to min doc_id by construction (documented)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox", "siteA"),
            (2, "the quick brown fox jumps over the dog", "siteA"),
            (3, "unrelated page", "siteB"),
        ],
        "doc_id long, text string, src string",
    )
    out = {
        r["text_hash"]: (r["n_copies"], r["best_id"], r["best_tokens"])
        for r in dedup.exact_dedup_keep_best(
            docs, group_expr=F.col("src")
        ).collect()
    }
    # siteA keeps the LONGER copy (doc 2, 8 tokens), not min id
    assert out == {"siteA": (2, 2, 8), "siteB": (1, 3, 2)}


def test_stratum_on_missing_policies(spark):
    """r08 review: the stratum-dim join silently DELETED documents whose
    stratum was absent from the dict. "drop" stays the documented
    default; "keep" passes them through (rate=buckets / 1 copy);
    "error" fails the job on the first unmapped value."""
    from pyspark.sql.utils import PythonException

    from streambench_spark.llm.sampling import (
        stratified_rate_sample,
        upsample_by_rate,
    )

    docs = spark.createDataFrame(
        [(1, "en"), (2, "zh"), (3, "pt")], "doc_id long, lang string"
    )
    rates = {"en": 100, "zh": 100}  # 'pt' unmapped
    assert sorted(
        r["doc_id"] for r in stratified_rate_sample(docs, rates).collect()
    ) == [1, 2]
    assert sorted(
        r["doc_id"]
        for r in stratified_rate_sample(docs, rates, on_missing="keep").collect()
    ) == [1, 2, 3]
    with pytest.raises(Exception, match="unmapped"):
        stratified_rate_sample(docs, rates, on_missing="error").collect()
    copies = {"en": 2, "zh": 1}
    assert sorted(
        (r["doc_id"], r["epoch"])
        for r in upsample_by_rate(docs, copies, on_missing="keep").collect()
    ) == [(1, 0), (1, 1), (2, 0), (3, 0)]
    with pytest.raises(ValueError, match="drop|keep|error"):
        stratified_rate_sample(docs, rates, on_missing="bogus")


def test_minhash_lsh_rejects_nondivisible_bands(spark):
    """r08 review: trailing num_hashes % bands signature slots were
    computed but never banded — silently lower recall than configured."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_lsh_pairs(docs, num_hashes=20, bands=8)
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=24)


def test_chunk_docs_udtf_null_text_matches_builtin(spark):
    """r08 review: NULL text crashed the UDTF twin with AttributeError
    while the builtin twin dropped the row. Both now drop it."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    a = sorted(map(tuple, text.chunk_docs(docs, chunk_tokens=2).collect()))
    b = sorted(map(tuple, text.chunk_docs_udtf(docs, chunk_tokens=2).collect()))
    assert a == b
    assert {t[0] for t in a} == {1}


def test_kmeans_argmin_struct_equals_window(spark):
    """The q_kmeans* argmin, min(struct(dist, c)), picks the same winner
    as ORDER BY dist ASC, c ASC, including EXACT ties on dist (the
    tie-break falls to the centroid id)."""
    from pyspark.sql import Window

    rows = [
        # vec 1: exact tie between centroids "b" and "a" -> "a" wins
        (1, "b", 1.0), (1, "a", 1.0), (1, "c", 2.0),
        # vec 2: plain minimum
        (2, "c", 0.25), (2, "a", 0.5), (2, "b", 0.75),
        # vec 3: three-way tie -> lexicographically smallest id
        (3, "c", 4.0), (3, "b", 4.0), (3, "a", 4.0),
    ]
    d = spark.createDataFrame(rows, "vec_id long, c string, dist double")

    agg = (
        d.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "c")).alias("_best"))
        .select("vec_id", F.col("_best.c").alias("c"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist").asc(), F.col("c").asc()
    )
    win = (
        d.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", "c")
    )
    got_agg = {(r["vec_id"], r["c"]) for r in agg.collect()}
    got_win = {(r["vec_id"], r["c"]) for r in win.collect()}
    assert got_agg == got_win == {(1, "a"), (2, "c"), (3, "a")}
