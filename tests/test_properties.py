"""Property-based tests (hypothesis): operator semantics vs tiny pure-
Python models on randomized inputs — the §5.2 'semantics, not snapshots'
strategy. Example counts are kept small because every example round-trips
through Spark."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from streambench_spark.operators.relational import asof_join

KEYS = st.integers(min_value=0, max_value=2)
TS = st.integers(min_value=0, max_value=50)


@st.composite
def asof_case(draw):
    quotes = draw(
        st.lists(st.tuples(KEYS, TS), min_size=1, max_size=12, unique=True)
    )
    probes = draw(st.lists(st.tuples(KEYS, TS), min_size=1, max_size=8))
    return quotes, probes


@given(asof_case())
@settings(max_examples=12, deadline=None)
def test_asof_join_matches_python_model(spark, case):
    quotes_rows, probes_rows = case
    # quote value = a deterministic function of (key, ts); unique per (k, ts)
    quotes = spark.createDataFrame(
        [(k, t, k * 1000 + t) for k, t in quotes_rows], "k long, t long, qv long"
    )
    probes = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(probes_rows)],
        "pid long, k long, t long",
    )
    got = {
        (r["pid"], r["qv"])
        for r in asof_join(
            probes, quotes, key="k", probe_ts="t", quote_ts="t", quote_cols=["qv"]
        ).collect()
    }
    want = set()
    for i, (k, t) in enumerate(probes_rows):
        eligible = [(qt, k * 1000 + qt) for qk, qt in quotes_rows if qk == k and qt <= t]
        if eligible:
            want.add((i, max(eligible)[1]))
    assert got == want


def test_asof_join_carries_null_quote_fields_atomically(spark):
    """A NULL field inside the matched quote row must be carried as-is:
    per-column carry-forward would stitch it with an older quote's value,
    and a NULL in the first quote column must not drop the match."""
    quotes = spark.createDataFrame(
        [(1, 10, 100, "a"), (1, 20, None, None), (1, 30, 300, "c")],
        "k long, t long, px long, tag string",
    )
    probes = spark.createDataFrame(
        [(0, 1, 25), (1, 1, 35), (2, 1, 15)], "pid long, k long, t long"
    )
    got = {
        r["pid"]: (r["px"], r["tag"])
        for r in asof_join(
            probes, quotes, key="k", probe_ts="t", quote_ts="t",
            quote_cols=["px", "tag"],
        ).collect()
    }
    # probe@25 matches quote@20 (all-NULL fields, still a match, not stitched
    # with quote@10's values); probe@35 → quote@30; probe@15 → quote@10
    assert got == {0: (None, None), 1: (300, "c"), 2: (100, "a")}


@given(
    st.lists(
        st.text(alphabet="abc xyz", min_size=1, max_size=40).filter(
            lambda s: s.strip()
        ),
        min_size=1, max_size=6,
    ),
    st.integers(min_value=1, max_value=7),
)
@settings(max_examples=15, deadline=None)
def test_chunk_docs_roundtrip_preserves_tokens(spark, texts, chunk_tokens):
    """Chunking must partition each document's token stream exactly:
    concatenating a doc's chunks in chunk_idx order reproduces the full
    lowercased token sequence, every chunk but the last is full, and
    n_tokens sums to the doc's token count."""
    import re

    from streambench_spark.llm.text import chunk_docs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = chunk_docs(docs, chunk_tokens=chunk_tokens).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in enumerate(texts):
        toks = re.split(r"\s+", text.lower())
        rows = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert [r["chunk_idx"] for r in rows] == list(range(len(rows)))
        joined = " ".join(r["chunk_text"] for r in rows).split(" ")
        assert joined == toks
        assert sum(r["n_tokens"] for r in rows) == len(toks)
        for r in rows[:-1]:
            assert r["n_tokens"] == chunk_tokens


def _py_gopher(text: str) -> dict:
    """Pure-Python model of llm/text.py:gopher_rules for one document."""
    import re as _re

    tk = _re.split(r"\s+", text.lower())
    ln = text.split("\n")
    n_sym = text.count("#") + text.count("...")
    n_words = len(tk)
    sum_len = sum(len(x) for x in tk)
    n_alpha = sum(1 for x in tk if _re.search(r"[a-z]", x))
    stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
    n_stop = len(stops & set(tk))
    n_lines = len(ln)
    n_bullet = sum(1 for l in ln if l.startswith("- ") or l.startswith("* "))
    n_ell = sum(1 for l in ln if l.endswith("..."))
    rules = {
        "r_word_count": 50 <= n_words <= 100000,
        "r_mean_word_len": 3 * n_words <= sum_len <= 10 * n_words,
        "r_symbol_ratio": 10 * n_sym < n_words,
        "r_bullet_lines": 10 * n_bullet < 9 * n_lines,
        "r_ellipsis_lines": 10 * n_ell < 3 * n_lines,
        "r_alpha_words": 5 * n_alpha >= 4 * n_words,
        "r_stopwords": n_stop >= 2,
    }
    out = {k: int(v) for k, v in rules.items()}
    out["n_words"] = n_words
    out["keep"] = int(all(rules.values()))
    return out


_WORDS = st.lists(
    st.sampled_from(
        ["the", "of", "and", "data", "spark", "####", "x", "longishword",
         "a...b", "- item", "..."]
    ),
    min_size=1,
    max_size=80,
)


@given(st.lists(_WORDS, min_size=1, max_size=4))
@settings(max_examples=10, deadline=None)
def test_gopher_rules_match_python_model(spark, docs_words):
    """Spark gopher_rules == the pure-Python model on randomized docs
    built from rule-triggering vocabulary (newlines via joined lines)."""
    from streambench_spark.llm import text as text_ops

    texts = ["\n".join(" ".join(w) for w in [ws[: len(ws) // 2 + 1], ws[len(ws) // 2 + 1 :]] if w)
             for ws in docs_words]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in text_ops.gopher_rules(docs).collect()}
    for i, t in enumerate(texts):
        want = _py_gopher(t)
        have = {k: v for k, v in got[i].items() if k != "doc_id"}
        assert have == want, (t, have, want)


@st.composite
def _containment_corpus(draw):
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    docs = draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=12),
            min_size=2,
            max_size=5,
        )
    )
    return [" ".join(ws) for ws in docs]


@given(_containment_corpus())
@settings(max_examples=10, deadline=None)
def test_containment_matches_bruteforce(spark, texts):
    """ngram_containment_pairs == brute-force shingle-set containment."""
    from streambench_spark.llm.dedup import ngram_containment_pairs

    def shingles(t):
        tk = t.lower().split()
        return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(docs, threshold=0.5).collect()
    }
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = shingles(texts[a]), shingles(texts[b])
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            c = round(inter / min(len(sa), len(sb)), 6)
            if c >= 0.5:
                want[(a, b)] = c
    assert got == want


# ---------------------------------------------------------------------------
# Sketch properties vs pure-Python models (operators/sketches.py)
# ---------------------------------------------------------------------------

import hashlib


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_cms(keys, depth, width):
    cells = {}
    for k in keys:
        for d in range(depth):
            idx = _h32(f"cms{d}:{k}") % width
            cells[(d, idx)] = cells.get((d, idx), 0) + 1
    return cells


@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60))
@settings(max_examples=8, deadline=None)
def test_cms_matches_python_model(spark, keys):
    from pyspark.sql import functions as F

    from streambench_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sketch = count_min_build(df, "k", depth=3, width=32)
    got = {(r["d"], r["idx"]): r["cnt"] for r in sketch.collect()}
    assert got == _py_cms(keys, 3, 32)
    # estimator: min over rows of the model's cells, never undercounts
    est = {
        r["k"]: r["est"]
        for r in count_min_estimate(
            sketch, df.select("k").distinct(), "k", depth=3, width=32
        ).collect()
    }
    from collections import Counter

    exact = Counter(keys)
    model = _py_cms(keys, 3, 32)
    for k, c in exact.items():
        want = min(model[(d, _h32(f"cms{d}:{k}") % 32)] for d in range(3))
        assert est[k] == want >= c


@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40,
             unique=True),
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
)
@settings(max_examples=8, deadline=None)
def test_bloom_matches_python_model(spark, members, probes):
    from streambench_spark.operators.sketches import (
        BITS_PER_WORD,
        bloom_build,
        bloom_probe,
    )

    m_words, k = 16, 3
    m_bits = m_words * BITS_PER_WORD

    def positions(h):
        h1 = _h32(f"bf1:{h}")
        h2 = _h32(f"bf2:{h}")
        return [(h1 + i * (1 + h2 % (m_bits - 1))) % m_bits for i in range(k)]

    bits = set()
    for h in members:
        bits.update(positions(h))
    want = {p for p in probes if all(pos in bits for pos in positions(p))}

    mdf = spark.createDataFrame([(h,) for h in members], "h long")
    pdf = spark.createDataFrame([(h,) for h in set(probes)], "h long")
    bloom = bloom_build(mdf, "h", m_words, k)
    got = {r["h"] for r in bloom_probe(pdf, bloom, "h", m_words, k).collect()}
    # got == want pins no-false-negatives too: every probed member is in
    # `want` by construction of the model (a separate subset assert here
    # was tautological — removed per the round-4 test review)
    assert got == want


def _two_sided_quantile(vals: list[float], q: float) -> float:
    """The pure-Python arbiter for quantile_cont semantics: position
    h = (n−1)·q on the 0-based sorted values; integral h returns the
    element exactly; fractional h returns the TWO-SIDED weighted form
    v_lo·(ceil(h)−h) + v_hi·(h−floor(h)) with NO equal-straddle
    short-circuit — exactly what DuckDB quantile_cont (the driver
    oracle) evaluates, and what exact_percentiles_sorted's SQL
    expression tree evaluates, product-rounding and all."""
    import math

    vals = sorted(vals)
    h = (len(vals) - 1) * q
    lo, hi = math.floor(h), math.ceil(h)
    if lo == hi:
        return vals[lo]
    return vals[lo] * (hi - h) + vals[hi] * (h - lo)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),          # group
            st.floats(min_value=-1e6, max_value=1e6,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=80,
    )
)
@settings(max_examples=10, deadline=None)
def test_exact_percentiles_sorted_matches_percentile_builtin(spark, rows):
    """The distributed-sort exact percentile must match quantile_cont
    semantics (the _two_sided_quantile model == DuckDB, the driver
    oracle) bit-for-bit — grouped AND global paths — and must match
    Spark's own percentile() (the one-executor-buffer implementation it
    replaces) everywhere EXCEPT the builtin's equal-straddle
    short-circuit: when v[floor(h)] == v[ceil(h)], percentile() returns
    the value directly while quantile_cont still computes the two-sided
    products, which can round differently (hypothesis found
    [5e-324, 5e-324] @ q50: products round to 0.0; DuckDB agrees with
    0.0, the builtin returns 5e-324). The driver oracle wins, so that
    corner is asserted against the model, not the builtin."""
    import math

    import pyspark.sql.functions as F

    from streambench_spark.operators.aggregates import exact_percentiles_sorted

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g int, v double"
    ).repartition(4)
    qs = {"q25": 0.25, "q50": 0.50, "q95": 0.95}

    by_group: dict[int, list[float]] = {}
    for g, v in rows:
        by_group.setdefault(g, []).append(float(v))
    model_g = {
        (g,): tuple(_two_sided_quantile(vs, q) for q in qs.values())
        for g, vs in by_group.items()
    }

    def straddle_equal(vs: list[float], q: float) -> bool:
        vs = sorted(vs)
        h = (len(vs) - 1) * q
        return vs[math.floor(h)] == vs[math.ceil(h)]

    got_g = {
        tuple(r[:1]): (r["q25"], r["q50"], r["q95"])
        for r in exact_percentiles_sorted(df, "v", qs, keys=["g"]).collect()
    }
    assert got_g == model_g

    ref_g = {
        tuple(r[:1]): (r["q25"], r["q50"], r["q95"])
        for r in df.groupBy("g").agg(
            *[F.expr(f"percentile(v, {q})").alias(a) for a, q in qs.items()]
        ).collect()
    }
    for (g,), ref in ref_g.items():
        for i, q in enumerate(qs.values()):
            if straddle_equal(by_group[g], q):
                # builtin short-circuits; known divergence class
                assert ref[i] == sorted(by_group[g])[
                    math.floor((len(by_group[g]) - 1) * q)
                ]
            else:
                assert got_g[(g,)][i] == ref[i]

    all_vals = [float(v) for _, v in rows]
    got = exact_percentiles_sorted(df, "v", qs).first()
    assert (got["q25"], got["q50"], got["q95"]) == tuple(
        _two_sided_quantile(all_vals, q) for q in qs.values()
    )


def test_percentile_equal_straddle_corner_matches_duckdb(spark):
    """The [5e-324, 5e-324] @ q50 corner, pinned explicitly against
    DuckDB itself (not just the Python model): quantile_cont computes
    the two-sided products (→ 0.0, each 5e-324·0.5 rounds to even) and
    exact_percentiles_sorted must agree with the ORACLE engine, not
    with percentile()'s short-circuit (→ 5e-324)."""
    import duckdb

    from streambench_spark.operators.aggregates import exact_percentiles_sorted

    con = duckdb.connect()
    duck = con.execute(
        "SELECT quantile_cont(v, 0.5) AS q FROM "
        "(SELECT CAST(5e-324 AS DOUBLE) AS v UNION ALL "
        " SELECT CAST(5e-324 AS DOUBLE)) t"
    ).fetchone()[0]
    con.close()
    assert duck == 0.0
    df = spark.createDataFrame([(5e-324,), (5e-324,)], "v double")
    got = exact_percentiles_sorted(df, "v", {"q50": 0.5}).first()["q50"]
    assert got == duck


@given(
    st.lists(
        st.integers(min_value=0, max_value=40),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=10, deadline=None)
def test_session_window_matches_gap_model(spark, deltas):
    """Spark session_window vs a Python gap model on adversarial integer
    timestamps: consecutive deltas are multiples of gap/10, so exact-gap
    collisions (the round-4 touch-merge discovery) occur constantly, not
    never. Model: an event extends the session iff delta <= gap
    (touch merges); session end = last event + gap."""
    import datetime as dt

    import pyspark.sql.functions as F

    GAP = 100  # seconds; deltas come in units of 10 s, so exact 100s hits
    base = dt.datetime(2024, 1, 1)
    ts, acc = [], 0
    for d in deltas:
        acc += d * 10
        ts.append(acc)

    # python model (touch merges: delta <= GAP)
    expected = []
    start = prev = ts[0]
    n = 1
    for t in ts[1:]:
        if t - prev <= GAP:
            prev = t
            n += 1
        else:
            expected.append((start, prev + GAP, n))
            start = prev = t
            n = 1
    expected.append((start, prev + GAP, n))

    df = spark.createDataFrame(
        [(base + dt.timedelta(seconds=t),) for t in ts], "ts timestamp"
    )
    got = sorted(
        (r["s"], r["e"], r["n"])
        for r in df.groupBy(F.session_window("ts", f"{GAP} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            ((F.unix_millis("w.start") - 1704067200000) / 1000)
            .cast("long").alias("s"),
            ((F.unix_millis("w.end") - 1704067200000) / 1000)
            .cast("long").alias("e"),
            "n",
        )
        .collect()
    )
    assert got == sorted(expected)


@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=8, deadline=None)
def test_global_prefix_sum_matches_window(spark, values):
    """The distributed prefix sum must equal the unpartitioned
    sum().over(orderBy) window it replaces, for random values (including
    negatives) and any partition placement."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from streambench_spark.operators.relational import global_prefix_sum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, v long"
    ).repartition(4)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: (r["cum"], r["tot"])
        for r in df.select(
            "id",
            F.sum("v").over(w).alias("cum"),
            F.sum("v").over(Window.partitionBy()).alias("tot"),
        ).collect()
    }
    got = {
        r["id"]: (r["cum"], r["tot"])
        for r in global_prefix_sum(
            df, [F.asc("id")], "v", cum_col="cum", total_col="tot"
        ).collect()
    }
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),      # group
                  st.integers(min_value=-1000, max_value=1000)),  # value
        min_size=1, max_size=120,
    ),
    st.integers(min_value=2, max_value=8),  # k
)
@settings(max_examples=8, deadline=None)
def test_kmv_matches_python_model(spark, rows, k):
    """kmv_retained == the k smallest distinct md5-portable hashes per
    group computed by a pure-Python model — validates the whole chain
    (CAST-to-string, md5 slice, % P, distinct, per-group top-k) end to
    end, and the map-side-partial twin against the same model (r08)."""
    from streambench_spark.llm.hashing import MERSENNE_P
    from streambench_spark.operators.aggregates import (
        kmv_retained,
        kmv_retained_partial,
    )

    df = spark.createDataFrame(rows, "g long, v long").repartition(4)
    want = {}
    for g, v in rows:
        want.setdefault(g, set()).add(_h32(str(v)) % MERSENNE_P)
    model = sorted(
        (g, h)
        for g, hs in want.items()
        for h in sorted(hs)[:k]
    )
    got = sorted(map(tuple, kmv_retained(df, ["g"], "v", k).collect()))
    assert got == model
    got_p = sorted(map(tuple, kmv_retained_partial(df, ["g"], "v", k).collect()))
    assert got_p == model


@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
             max_size=100, unique=True),
)
@settings(max_examples=8, deadline=None)
def test_with_split_matches_python_model(spark, ids):
    """The split assignment == the pure-Python md5 model bucket-for-
    bucket — the property that lets an external system (or a future
    engine migration) reproduce the exact same train/val/test
    membership from the key alone."""
    from streambench_spark.llm.sampling import with_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in with_split(df).collect()
    }
    for i in ids:
        b = _h32(str(i)) % 100
        split = "train" if b < 90 else ("val" if b < 95 else "test")
        assert got[i] == (b, split)


_SKEW_TEXTS = st.lists(
    st.sampled_from(
        # hot token everywhere + rare tokens + whitespace/empty edges
        ["the the the", "the cat sat", "zz yy xx the", "the", "  ",
         "one", "the the", "a b c d the"]
    ),
    min_size=1,
    max_size=8,
)


@given(_SKEW_TEXTS)
@settings(max_examples=10, deadline=None)
def test_skew_safe_twins_match_on_random_corpora(spark, texts):
    """skew_safe=True (persist + partial-agg + join) must equal the
    default count-window plan on ADVERSARIAL corpora the real-corpus
    equality test never sees: every doc sharing one hot token, single-
    token docs, whitespace-only docs (empty-string tokens), duplicate
    texts — including the bigram float fold, which is the part a plan
    change could most plausibly disturb."""
    from streambench_spark.llm.text import bigram_logprob_scores, tfidf_top_terms

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for fn in (tfidf_top_terms, bigram_logprob_scores):
        base = sorted(map(tuple, fn(docs).collect()))
        safe = sorted(map(tuple, fn(docs, skew_safe=True).collect()))
        assert safe == base, (fn.__name__, texts)


# ---------------------------------------------------------------------------
# r12 additions: graph CC twins, sliding windows, MinHash-LSH guarantees
# ---------------------------------------------------------------------------

_NODES = st.integers(min_value=0, max_value=7)


@given(st.lists(st.tuples(_NODES, _NODES), min_size=1, max_size=14))
@settings(max_examples=10, deadline=None)
def test_connected_components_twins_match_union_find(spark, edge_list):
    """Both CC variants (min-label loop and large-star/small-star
    alternation) must equal a pure-Python union-find on random small
    graphs — self-loops, duplicate edges, and both orientations
    included, the cases the example-based chain/island test can't
    sweep. The star variant's hook steps are the intricate part
    (Kiveris et al. SOCC'14); a wrong hook preserves SOME components
    while merging or splitting others, which union-find catches."""
    from streambench_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(edge_list, "src long, dst long")

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        parent[find(a)] = find(b)
    comp_min: dict[int, int] = {}
    for node in parent:
        r = find(node)
        comp_min[r] = min(comp_min.get(r, node), node)
    want = {(node, comp_min[find(node)]) for node in parent}

    got_minlabel = {
        (r["node"], r["comp"]) for r in connected_components(edges).collect()
    }
    got_star = {
        (r["node"], r["comp"])
        for r in connected_components_star(edges).collect()
    }
    assert got_minlabel == want
    assert got_star == want


def test_connected_components_one_action_per_round(spark):
    """r15 optimization pin: the min-label loop's per-round frames are
    LAZY localCheckpoints, so each round costs exactly ONE Spark action
    (the convergence count doubles as the materialization job), and the
    edge frame rides the labels-init job (its only single-reference
    action). With AQE off (1 action == 1 job, no stage-materialization
    jobs), a graph that converges in 2 rounds must submit exactly 1
    labels-init + 2 round counts inside connected_components plus 1 for
    the collect — eager per-round checkpoints added one more full pass
    per round (2 init + 2/round)."""
    from streambench_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (10, 11)], "src long, dst long"
    )
    edges.count()  # settle any lazy source setup outside the job group
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        spark.sparkContext.setJobGroup("cc-action-budget", "r15 pin")
        got = {
            (r["node"], r["comp"])
            for r in connected_components(edges).collect()
        }
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            "cc-action-budget"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.sparkContext.setJobGroup(None, None)
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    # star of 1 + the 10-11 island: labels settle in round 1, round 2
    # confirms → 1 labels-init + 2 count jobs + 1 collect
    assert len(jobs) == 4, (
        f"expected 4 jobs (init + 2 rounds + collect), got {len(jobs)}"
    )


@given(
    st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=20),
    st.integers(min_value=0, max_value=8),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=10, deadline=None)
def test_sliding_window_matches_python_model(spark, ts_secs, extra, slide):
    """W3 semantics vs the definitional model: an event at second t lands
    in every epoch-aligned window [s, s+duration) with s a multiple of
    slide and s <= t < s+duration — including non-divisible
    duration/slide combinations and windows that start before epoch.
    Counts per window-start must match exactly."""
    # Spark requires slide <= duration (an AnalysisException otherwise),
    # so the strategy draws the EXCESS over the slide
    duration = slide + extra
    from collections import Counter

    from pyspark.sql import functions as F

    from streambench_spark.operators.windows import sliding_window

    df = spark.createDataFrame([(t,) for t in ts_secs], "t long").select(
        F.col("t").cast("timestamp").alias("ts")
    )
    got = {
        (r["ws"], r["cnt"])
        for r in df.groupBy(
            sliding_window("ts", f"{duration} seconds", f"{slide} seconds")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").cast("long").alias("ws"), "cnt")
        .collect()
    }
    model: Counter = Counter()
    for t in ts_secs:
        m = -(duration // slide) - 1
        while m * slide <= t:
            s = m * slide
            if s <= t < s + duration:
                model[s] += 1
            m += 1
    assert got == {(s, c) for s, c in model.items()}


@st.composite
def _dup_corpus(draw):
    """Texts of 3-6 words over a tiny vocabulary (so word-3-gram shingle
    sets overlap organically), with some documents duplicated verbatim."""
    vocab = ["red", "blue", "fox", "jumps", "over", "dog"]
    base = draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=6),
            min_size=2,
            max_size=5,
        )
    )
    dup_of = draw(st.lists(st.integers(0, len(base) - 1), max_size=3))
    texts = [" ".join(ws) for ws in base] + [" ".join(base[i]) for i in dup_of]
    return texts


@given(_dup_corpus())
@settings(max_examples=8, deadline=None)
def test_minhash_lsh_soundness_and_exact_dup_completeness(spark, texts):
    """The two deterministic guarantees of MinHash-LSH + exact verify:
    (a) SOUNDNESS — every reported pair's true shingle-set Jaccard is
    >= threshold (the exact verify step removes ALL false positives,
    so this holds regardless of banding luck); (b) COMPLETENESS for
    identical sets — docs with equal shingle sets have equal signatures,
    hence equal band keys, hence are ALWAYS candidates and always pass
    verify at any threshold. Recall between threshold and J=1 is
    probabilistic and deliberately NOT asserted."""
    from streambench_spark.llm.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    threshold = 0.7
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=threshold).collect()
    }

    def shingles(text: str) -> frozenset:
        tk = text.lower().split()
        return frozenset(
            " ".join(tk[i : i + 3]) for i in range(len(tk) - 2)
        )

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    for a, b in got:
        assert a < b
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        assert union > 0 and inter / union >= threshold, (a, b, texts)
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[a] == sets[b]:
                assert (a, b) in got, (a, b, texts)


@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=8),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=8, deadline=None)
def test_simhash_matches_python_model(spark, docs_words):
    """The SimHash fold (per-bit ±1 vote over token OCCURRENCES, bit set
    iff the sum is strictly positive) vs a direct Python model using the
    same portable md5-based 32-bit token hash. Catches off-by-ones in
    the nested aggregate/transform expression (>= vs >, distinct vs
    occurrence counting, bit-order mistakes) that identical-input
    smoke tests can't see."""
    import hashlib

    from streambench_spark.llm.dedup import simhash_fingerprints

    texts = [" ".join(ws) for ws in docs_words]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(docs).select("doc_id", "simhash").collect()
    }

    def h32(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    for i, t in enumerate(texts):
        hvs = [h32(tok) for tok in t.lower().split()]
        fp = 0
        for bit in range(32):
            vote = sum(1 if (hv >> bit) & 1 else -1 for hv in hvs)
            if vote > 0:
                fp |= 1 << bit
        assert got[i] == fp, (i, t, got[i], fp)


@st.composite
def _vec_corpus(draw):
    """3-d integer-valued vectors (exact in float64, so cosine rounding
    is deterministic), with occasional zero vectors and duplicates."""
    vecs = draw(
        st.lists(
            st.lists(st.integers(min_value=-3, max_value=3), min_size=3, max_size=3),
            min_size=2,
            max_size=8,
        )
    )
    if draw(st.booleans()):
        vecs.append(vecs[0])  # exact duplicate: a sim=1.0 tie
    return vecs


@given(_vec_corpus())
@settings(max_examples=8, deadline=None)
def test_brute_force_top1_matches_python_model(spark, vecs):
    """Exact NN contract vs numpy-free Python: cosine rounded
    half-away-from-zero at 6dp, self excluded, ties to the smaller
    neighbor id, and zero-norm vectors on BOTH sides — a zero-norm
    query emits no row, a zero-norm candidate (NaN cosine → -inf)
    is never anyone's neighbor."""
    import math

    from streambench_spark.llm.similarity import brute_force_top1

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["neighbor_id"], r["sim"])
        for r in brute_force_top1(emb).collect()
    }

    def round6(x: float) -> float:
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    want = {}
    for i, a in enumerate(vecs):
        na = math.sqrt(sum(x * x for x in a))
        if na == 0:
            continue
        best_sim, best_j = -math.inf, None
        for j, b in enumerate(vecs):
            if j == i:
                continue
            nb = math.sqrt(sum(x * x for x in b))
            if nb == 0:
                continue  # NaN cosine -> -inf, never a neighbor
            s = round6(sum(x * y for x, y in zip(a, b)) / (na * nb))
            if s > best_sim or (s == best_sim and j < best_j):
                best_sim, best_j = s, j
        if best_j is not None:
            want[i] = (best_j, best_sim)
    assert got == want, (vecs, got, want)


@given(
    _vec_corpus(),
    st.lists(st.integers(min_value=0, max_value=2), min_size=12, max_size=12),
)
@settings(max_examples=8, deadline=None)
def test_ivf_top1_matches_per_cell_model(spark, vecs, labels):
    """The bucketed-ANN engine (one BLAS matmul per cell inside
    applyInPandas) vs the same exact-NN Python model restricted to each
    cell: identical rounding/tie-break contract as brute force, cells
    with <2 rows emit nothing, and when every vector lands in ONE cell
    the result must equal brute_force_top1 by construction. Random cell
    labels sweep the degenerate cells (empty, singleton, all-zero-norm)
    the oracle corpus never produces."""
    import math

    from streambench_spark.llm.similarity import ivf_top1

    rows = [
        (i, labels[i % len(labels)], [float(x) for x in v])
        for i, v in enumerate(vecs)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["neighbor_id"], r["sim"])
        for r in ivf_top1(emb).collect()
    }

    def round6(x: float) -> float:
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    want = {}
    for i, lab, a in rows:
        na = math.sqrt(sum(x * x for x in a))
        if na == 0:
            continue
        best_sim, best_j = -math.inf, None
        for j, lab_j, b in rows:
            if j == i or lab_j != lab:
                continue
            nb = math.sqrt(sum(x * x for x in b))
            if nb == 0:
                continue
            s = round6(sum(x * y for x, y in zip(a, b)) / (na * nb))
            if s > best_sim or (s == best_sim and j < best_j):
                best_sim, best_j = s, j
        if best_j is not None:
            want[i] = (best_j, best_sim)
    assert got == want, (rows, got, want)


@st.composite
def interval_case(draw):
    left = draw(
        st.lists(st.tuples(KEYS, TS), min_size=1, max_size=10, unique=True)
    )
    right = draw(
        st.lists(st.tuples(KEYS, TS), min_size=1, max_size=10, unique=True)
    )
    lower = draw(st.integers(min_value=-4, max_value=4))
    width = draw(st.integers(min_value=1, max_value=15))
    return left, right, lower, lower + width


@given(interval_case())
@settings(max_examples=10, deadline=None)
def test_interval_join_matches_python_model(spark, case):
    """J3 vs the definitional nested loop: a (lk, lt) row pairs with
    every (rk, rt) row where rk == lk and lt+lower <= rt <= lt+upper —
    negative lower bounds included. The banded twin (lower == 0 path)
    must produce the identical pair set through its bucketed plan, and
    left_outer must emit exactly the unmatched left rows with NULLs.
    The existing invariance test pins twin-on-twin equality on one
    skewed frame; this pins both against the model itself."""
    from pyspark.sql import functions as F

    from streambench_spark.operators.relational import (
        interval_join,
        interval_join_banded,
    )

    left_rows, right_rows, lower, upper = case
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "lid long, k long, lts_s long",
    ).withColumn("lts", F.timestamp_seconds("lts_s"))
    right = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(right_rows)],
        "rid long, k long, rts_s long",
    ).withColumn("rts", F.timestamp_seconds("rts_s"))

    want_pairs = {
        (li, ri)
        for li, (lk, lt) in enumerate(left_rows)
        for ri, (rk, rt) in enumerate(right_rows)
        if rk == lk and lt + lower <= rt <= lt + upper
    }

    got_inner = {
        (r["lid"], r["rid"])
        for r in interval_join(
            left, right, key="k", left_ts="lts", right_ts="rts",
            lower=f"{lower} seconds", upper=f"{upper} seconds",
        ).select("l.lid", "r.rid").collect()
    }
    assert got_inner == want_pairs

    got_outer = {
        (r["lid"], r["rid"])
        for r in interval_join(
            left, right, key="k", left_ts="lts", right_ts="rts",
            lower=f"{lower} seconds", upper=f"{upper} seconds",
            how="left_outer",
        ).select("l.lid", "r.rid").collect()
    }
    matched_left = {li for li, _ in want_pairs}
    want_outer = want_pairs | {
        (li, None) for li in range(len(left_rows)) if li not in matched_left
    }
    assert got_outer == want_outer

    if upper > 0:
        want_banded = {
            (li, ri)
            for li, (lk, lt) in enumerate(left_rows)
            for ri, (rk, rt) in enumerate(right_rows)
            if rk == lk and lt <= rt <= lt + upper
        }
        got_banded = {
            (r["lid"], r["rid"])
            for r in interval_join_banded(
                left, right, key="k", left_ts="lts", right_ts="rts",
                upper=f"{upper} seconds",
            ).select("l.lid", "r.rid").collect()
        }
        assert got_banded == want_banded


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=8),
    ),
    min_size=1,
    max_size=16,
)


@given(EDGES)
@settings(max_examples=10, deadline=None)
def test_pagerank_matches_python_model(spark, edge_list):
    """The scaled-integer PageRank vs a pure-Python replay of the same
    integer recurrence (symmetrize+distinct, c = pr // deg, pr' =
    0.15*scale + 85*sum(c) // 100). The claim under test is that the
    DISTRIBUTED plan (adjacency join + explode + aggregate per round,
    lineage truncation between rounds) computes exactly the sequential
    fixed-point arithmetic — self-loops, duplicate edges, and both
    orientations included. Any drift (a float sneaking in, a lost
    contribution on a checkpoint boundary) breaks bit-equality."""
    from streambench_spark.operators.graph import pagerank_exact

    scale, iterations = 1_000_000, 3
    sym = {(a, b) for a, b in edge_list} | {(b, a) for a, b in edge_list}
    deg: dict[int, int] = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    pr = {n: scale for n in deg}
    base = (15 * scale) // 100
    for _ in range(iterations):
        s: dict[int, int] = {n: 0 for n in deg}
        for a, b in sym:
            s[b] += pr[a] // deg[a]
        pr = {n: base + (85 * s[n]) // 100 for n in deg}

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["node"]: r["pr"]
        for r in pagerank_exact(edges, iterations=iterations).collect()
    }
    assert got == pr


@given(EDGES)
@settings(max_examples=10, deadline=None)
def test_triangle_counts_matches_bruteforce(spark, edge_list):
    """The degree-oriented adjacency-intersection enumeration vs the
    brute-force triple scan on random small graphs. The orientation
    tie-break ((deg, id) lexicographic) is the intricate part: a wrong
    tie-break double-counts or drops triangles inside equal-degree
    cliques, which the two example-based fixtures (path + star) never
    exercise. Nodes with zero triangles are absent from the output by
    contract."""
    from itertools import combinations

    from streambench_spark.operators.graph import triangle_counts

    from hypothesis import assume

    undirected = {
        (min(a, b), max(a, b)) for a, b in edge_list if a != b
    }
    assume(undirected)
    nodes = {n for e in undirected for n in e}
    adj = {n: set() for n in nodes}
    for a, b in undirected:
        adj[a].add(b)
        adj[b].add(a)
    want: dict[int, int] = {}
    for u, v, w in combinations(sorted(nodes), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for n in (u, v, w):
                want[n] = want.get(n, 0) + 1

    edges = spark.createDataFrame(
        sorted(undirected), "src long, dst long"
    )
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()
    }
    assert got == want


@st.composite
def salted_case(draw):
    # one hot key (0) plus a uniform tail, the skew shape the salt exists for
    fact_keys = draw(
        st.lists(
            st.one_of(st.just(0), st.integers(min_value=0, max_value=5)),
            min_size=1,
            max_size=24,
        )
    )
    dim_keys = draw(
        st.lists(
            st.integers(min_value=0, max_value=7), min_size=1, max_size=8,
            unique=True,
        )
    )
    buckets = draw(st.integers(min_value=1, max_value=5))
    return fact_keys, dim_keys, buckets


@given(salted_case())
@settings(max_examples=10, deadline=None)
def test_salted_join_matches_plain_join(spark, case):
    """The skew-salted fact-dim join must equal the plain equi join as a
    MULTISET (duplicate fact rows per key preserved exactly once each,
    facts with no dim row dropped) for any bucket count — including
    buckets=1 (degenerate) and keys present on only one side. A salt
    that is not a function of the fact row, or a dim replication that
    misses a bucket, breaks multiset equality."""
    from collections import Counter

    from streambench_spark.operators.relational import salted_join

    fact_keys, dim_keys, buckets = case
    fact = spark.createDataFrame(
        [(i, k, k * 10 + i) for i, k in enumerate(fact_keys)],
        "fid long, k long, fv long",
    )
    dim = spark.createDataFrame(
        [(k, k * 100) for k in dim_keys], "k long, dv long"
    )
    plain = Counter(
        (r["fid"], r["dv"])
        for r in fact.join(dim, "k").select("fid", "dv").collect()
    )
    salted = Counter(
        (r["fid"], r["dv"])
        for r in salted_join(fact, dim, key="k", salt_on="fid", buckets=buckets)
        .select("fid", "dv")
        .collect()
    )
    assert salted == plain


@given(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=40
    )
)
@settings(max_examples=10, deadline=None)
def test_global_row_number_matches_sorted_enumeration(spark, values):
    """global_row_number (range-repartition + per-partition Arrow
    enumerate + broadcast offsets) must reproduce the sequential
    1-based enumeration of the total order (v, id) — duplicates
    resolved by the unique tiebreaker — and total_col must carry the
    exact row count on every row. The offset stitching across range
    partitions is the part a single-partition window can't get wrong
    and this plan can."""
    from streambench_spark.operators.relational import global_row_number

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, v long"
    )
    got = {
        r["id"]: (r["rn"], r["n_total"])
        for r in global_row_number(
            df, order=["v", "id"], rank_col="rn", total_col="n_total"
        ).collect()
    }
    order = sorted(range(len(values)), key=lambda i: (values[i], i))
    want = {i: (pos + 1, len(values)) for pos, i in enumerate(order)}
    assert got == want
