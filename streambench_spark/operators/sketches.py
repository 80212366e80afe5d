"""Mergeable frequency/membership sketches as plain DataFrame aggregates.

Reference parity: StreamBench's StreamBox half ships sharded in-memory
set state for windowed distinct counts (creek_set_array,
streambox/new_files/Values.h:2190-2208) — the "sketchy" end of its
operator surface. This module carries that idea to the two sketches a
100 TB training-data pipeline actually needs:

- Count-Min Sketch (Cormode & Muthukrishnan 2005): a d x w counter
  matrix; estimate(key) = min_j sketch[j][h_j(key) mod w]. Built here as
  ONE map-side-combined groupBy over (row, column) — the sketch is a
  d*w-row DataFrame, mergeable across partitions/windows/days by summing
  counters (proven in tests). The full-corpus shuffle moves only d*w
  distinct keys, so the reduce side is O(sketch), not O(data).
- Bloom filter (Bloom 1970): m bits as ceil(m/31)-many 31-bit words in
  BIGINTs (31, not 63: DuckDB raises on 1<<63 overflow and ANSI engines
  differ on signed wraparound — 31 keeps every intermediate positive and
  bit-identical everywhere). Built by bit_or aggregation over per-hash
  word fragments; membership = all k probed bits set. The built filter is
  a W-row DataFrame: broadcast it and the probe side never shuffles.

Both sketches use the portable md5-based hash (llm/hashing.py) so the
DuckDB correctness oracle reconstructs IDENTICAL counters/bitmaps — these
are exact-reproducible operators, not approximate-and-unverifiable ones.
Spark's builtin count_min_sketch()/BloomFilter produce engine-private
binary blobs; these stay relational, so downstream plans can join, merge,
and window them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streambench_spark.llm.hashing import spark_hash32

BITS_PER_WORD = 31


def _cms_idx_expr(key_expr: str, row: int, width: int, hash_mode: str = "md5") -> str:
    """Spark SQL: column index of `key_expr` in sketch row `row`."""
    h = spark_hash32(f"concat('cms{row}:', {key_expr})", mode=hash_mode)
    return f"CAST({h} % {width} AS INT)"


def count_min_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 512,
    hash_mode: str = "md5",
) -> DataFrame:
    """Build a Count-Min Sketch over `key_col` as a (d, idx, cnt) frame.

    One pass: inline-explode the depth (row, column) coordinates per
    record, then a single hash aggregate on (d, idx). Catalyst's partial
    aggregation means each input partition emits at most d*w rows into
    the shuffle — at 100 TB the exchange carries kilobytes. The result
    is mergeable: union two sketches and sum cnt per (d, idx).
    """
    key = f"CAST({key_col} AS STRING)"
    coords = ", ".join(
        f"named_struct('d', {j}, 'idx', {_cms_idx_expr(key, j, width, hash_mode)})"
        for j in range(depth)
    )
    return (
        df.select(F.expr(f"inline(array({coords}))"))
        .groupBy("d", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
    hash_mode: str = "md5",
) -> DataFrame:
    """Point-estimate counts for `keys` against a built sketch.

    estimate = min over the d rows (classic CMS upper-bound estimator:
    never undercounts, overcounts only on collisions). The sketch is
    d*w rows — broadcast, so probing any number of keys is shuffle-free
    on the probe side except the final per-key min (grouped on the
    already-distinct key set).
    """
    key = f"CAST({key_col} AS STRING)"
    coords = ", ".join(
        f"named_struct('d', {j}, 'idx', {_cms_idx_expr(key, j, width, hash_mode)})"
        for j in range(depth)
    )
    probes = keys.select(
        key_col, F.expr(f"inline(array({coords}))")
    )
    # LEFT join: the sketch frame is sparse (zero cells have no row), so
    # an inner join would drop an unseen key's empty cells and report an
    # inflated min over only its colliding cells — or no row at all.
    # coalesce(cnt, 0) restores the classic estimator: any empty cell
    # pins the min at 0 for keys absent from the build.
    return (
        probes.join(F.broadcast(sketch), ["d", "idx"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def _bloom_posarr_expr(h_col: str, k: int, m_bits: int, hash_mode: str = "md5") -> str:
    """Spark SQL: ARRAY of the k bit positions of hash column `h_col`
    (double hashing g_i = h1 + i*step per Kirsch-Mitzenmacher 2006 — two
    portable hashes derive all k probes, identical literals in the
    oracle). The step is 1 + (h2 % (m_bits-1)), never 0 — a raw
    h2 % m_bits == 0 (expected once per ~m_bits keys) would collapse all
    k probes onto one bit and degrade that key's FP contribution from
    p^k toward p.

    Shape matters as much as values: the two md5 chains are evaluated
    ONCE per row inside the array(named_struct(...)) constructor and the
    positions derive from the struct FIELDS. The obvious alternative — a
    list of k standalone position expressions — re-inlines both md5
    chains into every reference (Catalyst collapses projections, so
    hoisting them into a withColumn does not survive optimization), and
    a probe that tests k positions touches each one twice: measured 12
    md5 evaluations per row and 21 s vs 7.6 s for the same 20M-row
    decontamination (SCALE.md, "Plan-sensitivity probe", decontamination
    trial)."""
    h1 = spark_hash32(f"concat('bf1:', CAST({h_col} AS STRING))", mode=hash_mode)
    h2 = spark_hash32(f"concat('bf2:', CAST({h_col} AS STRING))", mode=hash_mode)
    return (
        f"flatten(transform(array(named_struct("
        f"'h1', {h1}, 'st', 1 + ({h2} % {m_bits - 1}))),"
        f" s -> transform(sequence(0, {k - 1}),"
        f" i -> CAST((s.h1 + i * s.st) % {m_bits} AS BIGINT))))"
    )


def bloom_build(
    hashes: DataFrame, h_col: str = "h", m_words: int = 2048, k: int = 3,
    hash_mode: str = "md5",
) -> DataFrame:
    """Aggregate a Bloom filter over the values of `h_col`.

    Result: (widx BIGINT, word BIGINT) — at most m_words rows (absent
    rows are all-zero words). bit_or is commutative/associative, so the
    aggregation is map-side combined and the shuffle carries only
    per-partition partial words; two filters merge by bit_or per widx.
    """
    m_bits = m_words * BITS_PER_WORD
    frags = hashes.select(
        F.explode(F.expr(_bloom_posarr_expr(h_col, k, m_bits, hash_mode))).alias("pos")
    ).select(
        (F.col("pos") / BITS_PER_WORD).cast("long").alias("widx"),
        F.expr(f"shiftleft(1L, CAST(pos % {BITS_PER_WORD} AS INT))").alias("bit"),
    )
    return frags.groupBy("widx").agg(F.expr("bit_or(bit)").alias("word"))


def bloom_probe(
    hashes: DataFrame, bloom: DataFrame, h_col: str = "h",
    m_words: int = 2048, k: int = 3, hash_mode: str = "md5",
) -> DataFrame:
    """Filter `hashes` to rows whose value tests positive in `bloom`.

    Probe shape: the sketch is materialized DRIVER-SIDE as a dense
    length-m_words word list (a bounded, O(m_words) collect — the same
    fixed-size object Spark's own ``stat.bloomFilter`` hands back for
    exactly this use) and embedded as an ARRAY LITERAL in a pure Filter
    over the probe scan: no probe-side shuffle, no generate, no join.
    Three measured per-row cost traps shape the implementation (numbers
    from SCALE.md's plan-sensitivity decontamination trial, 20M rows × 16k
    words): (1) the lookup MUST be an array index, not a map — Spark's
    element_at on MapType is a LINEAR key scan, O(m_words) per position
    (59 s as a map); (2) the k position expressions MUST evaluate the two
    md5 chains once per row via `_bloom_posarr_expr`'s struct shape — k
    standalone position expressions re-inline both chains per reference,
    12 md5/row (21 s vs 7.6 s); (3) the words must NOT arrive by
    broadcast-joining a one-row array column — the filter becomes the
    BroadcastNestedLoopJoin's condition, which disables whole-stage
    codegen AND copies the full array into every surviving row (25 s,
    scaling with m_words, vs 7.6 s as a literal). The bit test divides
    by a power of two instead of shiftleft (same bits: words are
    nonnegative and < 2^31, so the double division is exact and the
    long cast is floor). Standard one-sided error: no false negatives;
    false-positive rate ~ (1 - e^{-kn/m})^k. Row multiplicity and
    columns of `hashes` pass through unchanged.

    ``m_words``/``k`` MUST match the build's parameters — the position
    hashes are derived from them, so any mismatch silently produces
    false negatives. A sketch wider than the declared m_words is
    detected and refused (ValueError below); a NARROWER one is
    indistinguishable from a sparse sketch driver-side, so that half of
    the contract stays on the caller.

    EAGER, BATCH-ONLY on the ``bloom`` side: the collect happens at
    DataFrame-CONSTRUCTION time (building the plan runs a real Spark job
    for the sketch), and a streaming ``bloom`` cannot be collected — the
    explicit TypeError below (a raise, not an assert, so it survives
    ``python -O``) turns that into a clear error instead of a deep Spark
    one. The PROBE side composes lazily as a plain Filter, so a
    streaming ``hashes`` works fine against a batch-built sketch.
    """
    if bloom.isStreaming:
        # explicit raise, not assert: the guard must survive python -O
        # (r07 advice) — it exists to pre-empt a deep Spark error
        raise TypeError(
            "bloom_probe materializes the sketch eagerly (driver-side "
            "collect); build the bloom filter from a BATCH frame"
        )
    m_bits = m_words * BITS_PER_WORD
    word_of = {r["widx"]: r["word"] for r in bloom.collect()}
    if word_of and max(word_of) >= m_words:
        # a sketch built with a LARGER m_words than the probe declares
        # would silently drop its upper words here — false NEGATIVES,
        # violating the one-sided-error contract (r08 review). The
        # mismatch is a mis-parameterization, never valid.
        raise ValueError(
            f"bloom sketch has word index {max(word_of)} but the probe "
            f"declares m_words={m_words}; build and probe must use the "
            "same m_words"
        )
    dense = [int(word_of.get(i, 0)) for i in range(m_words)]
    bf = F.lit(dense).cast("array<bigint>")
    posarr = F.expr(_bloom_posarr_expr(h_col, k, m_bits, hash_mode))

    def _bit_set(p):
        word = F.element_at(bf, (p / BITS_PER_WORD).cast("int") + 1)
        pw2 = F.pow(F.lit(2.0), (p % BITS_PER_WORD).cast("double"))
        return ((word / pw2).cast("long") % 2) == 1

    return hashes.filter(F.forall(posarr, _bit_set))
