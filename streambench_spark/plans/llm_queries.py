"""Registry entries for the LLM-data-pipeline operators (documents +
embeddings tables), each with a DuckDB oracle that replicates the exact
same computation — including the portable md5-based hashes and the same
left-fold float accumulation — so value hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streambench_spark.catalog import load_table, repartition_for_compute
from streambench_spark.llm import dedup, multimodal, sampling, similarity, text
from streambench_spark.llm.hashing import MERSENNE_P, minhash_coefficients
from streambench_spark.plans.queries import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, widened to the session's core count when narrow.

    The testdata ships one small parquet file per table, so the scan
    yields ONE partition and every compute-bound operator (md5 shingle
    hashing, higher-order folds — interpreted, not codegen) runs
    single-threaded. The widening is CONDITIONAL (repartition_for_compute)
    so a real lake with thousands of splits never pays a pointless
    full-corpus shuffle."""
    return repartition_for_compute(load_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, conditionally widened (same single-file rationale)."""
    return repartition_for_compute(load_table(spark, sf_dir, "embeddings"))


# DuckDB fragments mirroring the Spark expressions -------------------------

_D_H32 = "CAST('0x' || substring(md5({s}), 1, 8) AS BIGINT)"
# Whitespace class matching Java's \s EXACTLY ([ \t\n\x0B\f\r]): DuckDB's
# RE2 \s EXCLUDES vertical tab (\x0B, verified), so a bare '\s+' oracle
# silently diverges from Spark's split/regexp_replace on the first
# document containing one. Every whitespace regex in this module's
# oracles goes through this constant.
_D_WS = "[ \\t\\n\\x0B\\f\\r]"
_D_TOKENS = "regexp_split_to_array(lower({col}), '" + _D_WS + "+')"
# 1-indexed DuckDB lists; range(a, b) is [a, b) → i in 1..len-2 for trigrams
_D_SHINGLES = (
    "list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] "
    "for i in range(1, len(tk) - 1)])"
)


def _oracle_shingle_cte() -> str:
    """Tokens → distinct shingles → distinct shingle HASHES (mirrors
    dedup.with_hashed_shingles: downstream set ops run on the 32-bit
    hashes, so any collision merges identically in both engines)."""
    h = _D_H32.format(s="s")
    return f"""
    toks AS (SELECT doc_id, {_D_TOKENS.format(col='text')} AS tk FROM documents),
    sh0 AS (SELECT doc_id, {_D_SHINGLES} AS shingles FROM toks),
    sh AS (SELECT doc_id, shingles,
                  list_distinct(list_transform(shingles, s -> {h} % {MERSENNE_P}))
                      AS hsh
           FROM sh0)
    """


_JACCARD_ORACLE = f"""
WITH {_oracle_shingle_cte()},
ex AS (SELECT doc_id, len(hsh) AS n_sh, unnest(hsh) AS s FROM sh),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
           count(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM pairs
WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.5
"""


def _minhash_oracle(num_hashes: int = 16, bands: int = 8) -> str:
    rows = num_hashes // bands
    coeffs = minhash_coefficients(num_hashes)
    sig = ", ".join(
        f"list_min([({a} * h + {b}) % {MERSENNE_P} for h in hsh])"
        for a, b in coeffs
    )
    band_keys = ", ".join(
        "concat_ws('_', " + ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return f"""
WITH {_oracle_shingle_cte()},
sigs AS (
    SELECT doc_id, hsh AS shingles, [{sig}] AS sig
    FROM sh WHERE len(hsh) > 0
),
banded AS (
    SELECT doc_id, unnest(generate_series(1, {bands})) AS band_idx,
           unnest([{band_keys}]) AS band_key
    FROM sigs
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
verified AS (
    SELECT id_a, id_b,
           len(list_intersect(sa.shingles, sb.shingles)) AS inter,
           len(sa.shingles) AS na, len(sb.shingles) AS nb
    FROM cand JOIN sigs sa ON cand.id_a = sa.doc_id
              JOIN sigs sb ON cand.id_b = sb.doc_id
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM verified
WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.5
"""


_SIMHASH_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_D_TOKENS.format(col='text')} AS tk FROM documents),
th AS (
    SELECT doc_id, unnest(list_transform(tk, t -> {_D_H32.format(s='t')})) AS h
    FROM toks
),
bits AS (
    SELECT doc_id, i,
           sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th CROSS JOIN (SELECT unnest(range(32)) AS i)
    GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT)
           AS simhash
FROM bits GROUP BY doc_id
"""

_FINGERPRINT_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_D_TOKENS.format(col='text')} AS tk FROM documents)
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(tk, t -> {_D_H32.format(s='t')} % {MERSENNE_P})),
           (acc, hv) -> (acc * 31 + hv) % {MERSENNE_P}) AS fingerprint
FROM toks
"""

_STOP_LIST = ", ".join(f"'{s}'" for s in text.STOPWORDS)

_DOC_STATS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, length(text) AS n_chars, {_D_TOKENS.format(col='text')} AS tk
    FROM documents
)
SELECT doc_id, n_chars,
       len(tk) AS n_tokens,
       len(list_distinct(tk)) AS n_distinct,
       len(list_filter(tk, t -> list_contains([{_STOP_LIST}], t))) AS n_stop,
       round(CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
             / len(tk), 6) AS avg_token_len
FROM toks
"""

_TOKEN_COUNTS_ORACLE = f"""
SELECT doc_id,
       len({_D_TOKENS.format(col='text')}) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]')) AS n_bpe_tokens
FROM documents
"""


def _lang_id_oracle() -> str:
    def occ(marker: str) -> str:
        esc = marker.replace("'", "''")
        return (
            f"CAST((length(lower(text)) - length(replace(lower(text), '{esc}', '')))"
            f" / length('{esc}') AS BIGINT)"
        )

    scores = ", ".join(
        " + ".join(occ(m) for m in markers) + f" AS score_{lang}"
        for lang, markers in text.LANG_MARKERS.items()
    )
    langs = list(text.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH scored AS (SELECT doc_id, {scores} FROM documents)
SELECT doc_id, {pred} AS pred_lang, {best} AS score FROM scored
"""


_D_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "[CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) for i in range(1, len({a}) + 1)]), "
    "(acc, v) -> acc + v)"
)


def _topk_oracle(join_cond: str, extra_col: str = "") -> str:
    """Top-1 cosine neighbor oracle with a parameterized candidate join.

    Zero-norm vectors are excluded on BOTH roles (query and neighbor),
    mirroring every Spark kernel's isfinite filter — without the guard a
    zero-norm query's 0/0 cosine is NULL, which row_number ranks into
    rn=1 and emits a (vec_id, neighbor, NULL) row the Spark side
    correctly never produces (round-4 review find, latent because the
    shipped corpus has no zero vectors)."""
    dot_self = _D_DOT.format(a="embedding", b="embedding")
    dot_ab = _D_DOT.format(a="a.embedding", b="b.embedding")
    return f"""
WITH e AS (
    SELECT vec_id, label, embedding, sqrt({dot_self}) AS norm{extra_col}
    FROM embeddings
    WHERE {dot_self} > 0
),
pairs AS (
    SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
           round({dot_ab} / (a.norm * b.norm), 6) AS sim
    FROM e a JOIN e b ON {join_cond}
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM pairs
)
SELECT vec_id, neighbor_id, sim FROM ranked WHERE rn = 1
"""


_D_LSH_BUCKET = (
    "CAST(list_sum([CASE WHEN embedding[i + 1] >= 0 THEN CAST(1 AS BIGINT) << i "
    "ELSE 0 END for i in range(0, 8)]) AS BIGINT)"
)

_BINARY_FEATURES_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha256  -- DuckDB hashes the UTF-8 bytes
FROM documents
"""


# Registry entries ----------------------------------------------------------


@register(
    "exact_dedup",
    """
    SELECT sha256(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text_hash,
           count(*) AS n_copies,
           min(doc_id) AS canonical_id
    FROM documents GROUP BY 1
    """,
    tags=["llm", "dedup"],
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-content sha256 group-by (one skew-free
    shuffle on the hash)."""
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


@register("neardup_ngram_jaccard", _JACCARD_ORACLE, tags=["llm", "dedup"])
def q_neardup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with exact word-3-gram Jaccard >= 0.5 via shingle
    inverted-index join (no all-pairs product)."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), 0.5)


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_oracle_shingle_cte().lstrip()},
ex AS (SELECT doc_id, len(hsh) AS n_sh, unnest(hsh) AS s FROM sh),
p0 AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
           count(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT id_a, id_b FROM p0
    WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.5
),
e AS (SELECT id_a AS a, id_b AS b FROM jac
      UNION ALL SELECT id_b, id_a FROM jac),
reach(a, b) AS (
    SELECT a, b FROM e
    UNION
    SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS component
FROM reach GROUP BY a
"""


@register("neardup_clusters", _CLUSTERS_ORACLE, tags=["llm", "dedup", "graph"])
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup groups = connected components of the near-dup pair graph
    (exact Jaccard >= 0.5 edges); component label = min doc_id — the
    canonical survivor each group keeps. Iterative min-label propagation
    (operators/graph.py) with per-round localCheckpoint; the oracle
    computes the same components with a recursive closure."""
    from streambench_spark.operators.graph import connected_components

    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), 0.5)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))


_JACCARD_CAPPED_ORACLE = f"""
WITH {_oracle_shingle_cte()},
ex AS (SELECT doc_id, len(hsh) AS n_sh, unnest(hsh) AS s FROM sh),
rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 10),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    WHERE a.s IN (SELECT s FROM rare)
),
pairs AS (
    SELECT cand.id_a, cand.id_b,
           any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb, count(*) AS inter
    FROM cand
    JOIN ex a ON a.doc_id = cand.id_a
    JOIN ex b ON b.doc_id = cand.id_b AND b.s = a.s
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM pairs
WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.5
"""


@register("neardup_ngram_jaccard_capped", _JACCARD_CAPPED_ORACLE, tags=["llm", "dedup"])
def q_neardup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB posture for exact Jaccard dedup: shingles above an
    absolute document-frequency cap (10) are dropped from candidate
    generation (bounding every join bucket), then candidates are verified
    with the exact full-shingle Jaccard. Output ⊆ neardup_ngram_jaccard;
    recall is 100% on this corpus at both sf0.01 and sf0.1 (measured)."""
    return dedup.ngram_jaccard_pairs_capped(_docs(spark, sf_dir), 0.5, max_df=10)


@register("minhash_lsh_neardup", _minhash_oracle(), tags=["llm", "dedup"])
def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) + LSH (8 bands × 2 rows) candidates, exact
    Jaccard >= 0.5 verify on candidates only. Oracle replicates the full
    minhash pipeline with identical coefficients."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), 0.5)


@register("simhash_fingerprint", _SIMHASH_ORACLE, tags=["llm", "dedup"])
def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints, per-row codegen fold (zero shuffle)."""
    return dedup.simhash_fingerprints(
        _docs(spark, sf_dir)
    ).select("doc_id", "simhash")


@register("doc_fingerprint", _FINGERPRINT_ORACLE, tags=["llm", "text"])
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint of the token sequence
    (train/test contamination checks)."""
    return text.doc_fingerprints(_docs(spark, sf_dir))


@register("doc_stats", _DOC_STATS_ORACLE, tags=["llm", "text"])
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats (length/stopword/distinct ratios)."""
    return text.doc_stats(_docs(spark, sf_dir))


@register("token_counts", _TOKEN_COUNTS_ORACLE, tags=["llm", "text"])
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    return text.token_counts(_docs(spark, sf_dir))


_QUALITY_FILTER_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang, source, length(text) AS n_chars,
           {_D_TOKENS.format(col='text')} AS tk
    FROM documents
)
SELECT doc_id, lang, source
FROM toks
WHERE n_chars >= 100
  AND len(tk) BETWEEN 20 AND 1000
  AND len(list_distinct(tk)) * 1.0 / len(tk) >= 0.2
"""


@register("quality_filter", _QUALITY_FILTER_ORACLE, tags=["llm", "text"])
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical corpus-cleaning step: keep documents passing length
    and lexical-diversity thresholds (chars >= 100, 20 <= tokens <= 1000,
    distinct-token ratio >= 0.2). Pure scan + filter — at 100 TB this is
    one pass with the predicates evaluated in codegen; the ratio uses an
    exact integer comparison (a*1 >= 0.2*b avoided via multiplication
    ordering identical in the oracle)."""
    return text.quality_kept(_docs(spark, sf_dir), "doc_id", "lang", "source")


_CORPUS_STATS_ORACLE = f"""
WITH toks AS (
    SELECT lang, source, {_D_TOKENS.format(col='text')} AS tk FROM documents
)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
       CAST(max(len(tk)) AS BIGINT) AS max_tokens
FROM toks GROUP BY 1, 2
"""


@register("corpus_stats", _CORPUS_STATS_ORACLE, tags=["llm", "text"])
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus reporting: docs / token totals per (lang, source) — the
    summary a data pipeline emits after each processing stage. One
    grouped aggregate on a low-cardinality key."""
    tk = dedup.TOKENS_EXPR.format(col="text")
    return (
        _docs(spark, sf_dir)
        .select("lang", "source", F.expr(f"size({tk})").alias("_n"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("total_tokens"),
            F.max("_n").cast("long").alias("max_tokens"),
        )
    )


_PIPELINE_ORACLE = f"""
WITH kept AS (
    SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text, length(text) AS n_chars,
               {_D_TOKENS.format(col='text')} AS tk
        FROM documents
    ) WHERE n_chars >= 100
        AND len(tk) BETWEEN 20 AND 1000
        AND len(list_distinct(tk)) * 1.0 / len(tk) >= 0.2
),
toks AS (SELECT doc_id, lang, {_D_TOKENS.format(col='text')} AS tk FROM kept),
sh0 AS (SELECT doc_id, lang, {_D_SHINGLES} AS shingles FROM toks),
sh AS (SELECT doc_id, lang,
              list_distinct(list_transform(shingles,
                  s -> {_D_H32.format(s='s')} % {MERSENNE_P})) AS hsh
       FROM sh0),
ex AS (SELECT doc_id, len(hsh) AS n_sh, unnest(hsh) AS s FROM sh),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb, count(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
removed AS (
    SELECT DISTINCT id_b AS doc_id FROM pairs
    WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.5
)
SELECT lang, count(*) AS n_docs
FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM removed)
GROUP BY lang
"""


@register("corpus_clean_pipeline", _PIPELINE_ORACLE, tags=["llm", "pipeline"])
def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning, composed from the registry operators:
    quality filter → near-dup removal (drop the higher doc_id of each
    Jaccard >= 0.5 pair among the kept docs) → per-language survivor
    counts. The composition is one lazy plan — Catalyst sees the whole
    pipeline and shares the scan; each stage's shuffles are the ones its
    operator documents."""
    # kept docs WITH text (quality_filter's registry entry projects it away)
    kept = text.quality_kept(_docs(spark, sf_dir), "doc_id", "lang", "text")
    pairs = dedup.ngram_jaccard_pairs(kept, 0.5)
    removed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = kept.join(removed, "doc_id", "left_anti")
    return survivors.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


@register("lang_id", _lang_id_oracle(), tags=["llm", "text"])
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-profile marker-n-gram language ID with deterministic argmax."""
    return text.lang_id(_docs(spark, sf_dir))


def _pii_oracle() -> str:
    """DuckDB twin of the PII injection + scrub. DuckDB regexp_replace
    needs the 'g' flag to match Spark's replace-all semantics; the
    patterns are in the Java-regex ∩ RE2 common subset."""
    email, url, phone = (p for _, p, _ in text.PII_PATTERNS)
    return f"""
    WITH aug AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' mail U' || CAST(doc_id AS VARCHAR)
                            || '@Example.COM now' ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' see HTTPS://Docs.Example.org/p/'
                            || CAST(doc_id AS VARCHAR) || ' ok' ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' call 555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{url}')) AS BIGINT) AS n_url,
           CAST(len(regexp_extract_all(text, '{phone}')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '{email}', '<EMAIL>', 'g'),
                   '{url}', '<URL>', 'g'),
                   '{phone}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM aug
    """


@register("pii_scrub", _pii_oracle(), tags=["llm", "text"])
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: redact emails/URLs/phone numbers, report
    per-doc replacement counts + an md5 of the scrubbed text.

    The synthetic corpus carries no PII, so a deterministic doc_id-keyed
    injection runs first — same expression in the oracle — proving the
    redaction automata on text that actually matches. The injected email
    and URL are deliberately mixed-case (`@Example.COM`, `HTTPS://`) so
    the `(?i)` automata are exercised cross-engine, not just in pytest.
    One codegen stage over the scan; no shuffle, no Python."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" mail U"), did.cast("string"), F.lit("@Example.COM now")),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" see HTTPS://Docs.Example.org/p/"), did.cast("string"), F.lit(" ok")
            ),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
    )
    return text.scrub_pii(docs.select("doc_id", injected.alias("text")))


@register(
    "embedding_topk_cosine",
    _topk_oracle("a.vec_id != b.vec_id"),
    tags=["llm", "similarity"],
)
def q_embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine nearest neighbor per vector (brute-force baseline)."""
    return similarity.brute_force_top1(_embs(spark, sf_dir))


@register(
    "embedding_ivf_topk",
    _topk_oracle("a.label = b.label AND a.vec_id != b.vec_id"),
    tags=["llm", "similarity"],
)
def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-1 nearest neighbor: candidates share the coarse cell
    (label column = precomputed quantizer assignment)."""
    return similarity.ivf_top1(_embs(spark, sf_dir))


@register(
    "embedding_lsh_topk",
    _topk_oracle(
        "a.bucket = b.bucket AND a.vec_id != b.vec_id",
        extra_col=f", {_D_LSH_BUCKET} AS bucket",
    ),
    tags=["llm", "similarity"],
)
def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed nearest neighbor (8-bit sign bucket)."""
    return similarity.lsh_top1(_embs(spark, sf_dir))


_COSINE_NEARDUP_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding,
           sqrt({_D_DOT.format(a='embedding', b='embedding')}) AS norm
    FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_D_DOT.format(a='a.embedding', b='b.embedding')}
             / (a.norm * b.norm), 6) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round({_D_DOT.format(a='a.embedding', b='b.embedding')}
            / (a.norm * b.norm), 6) >= 0.45
"""


@register(
    "embedding_lsh_multiprobe_topk",
    _topk_oracle(
        "bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id != b.vec_id",
        extra_col=f", {_D_LSH_BUCKET} AS bucket",
    ),
    tags=["llm", "similarity"],
)
def q_embedding_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH nearest neighbor: each query probes its own
    bucket plus all Hamming-1 neighbors (one flipped sign bit), so
    vectors alone in their bucket still find neighbors — the candidate
    set is exactly pairs with bit_count(xor(buckets)) <= 1, which is
    what the oracle ranks."""
    return similarity.lsh_top1_multiprobe(_embs(spark, sf_dir))


@register("neardup_embedding_cosine", _COSINE_NEARDUP_ORACLE, tags=["llm", "dedup"])
def q_neardup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.45), exact broadcast-matmul
    baseline; the LSH/IVF bucketed variants are the scale path."""
    return similarity.cosine_neardup_pairs(_embs(spark, sf_dir), 0.45)


_COSINE_LSH_NEARDUP_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding,
           sqrt({_D_DOT.format(a='embedding', b='embedding')}) AS norm,
           {_D_LSH_BUCKET} AS fullb
    FROM embeddings
),
bands AS (
    SELECT vec_id, embedding, norm, j,
           (fullb >> (CAST(j AS INTEGER) * 2)) & 3 AS bucket
    FROM e, range(0, 4) AS t(j)
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_D_DOT.format(a='a.embedding', b='b.embedding')}
             / (a.norm * b.norm), 6) AS sim
FROM bands a JOIN bands b
  ON a.j = b.j AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE a.norm > 0 AND b.norm > 0
  AND round({_D_DOT.format(a='a.embedding', b='b.embedding')}
            / (a.norm * b.norm), 6) >= 0.45
"""


@register(
    "neardup_embedding_lsh", _COSINE_LSH_NEARDUP_ORACLE, tags=["llm", "dedup"]
)
def q_neardup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH embedding near-dup pairs (>= 0.45): 4 bands x 2
    sign bits, candidates = pairs colliding in any band — equi-join
    shuffle on (band, bucket), intra-bucket pairs only, never all-pairs.
    The scale path twin of neardup_embedding_cosine (recall amplified by
    banding; documented in llm/similarity.py:cosine_neardup_pairs_lsh)."""
    # explicit test-scale banding (the oracle mirrors these constants);
    # production defaults are wider — see the sizing note in
    # similarity.cosine_neardup_pairs_lsh
    return similarity.cosine_neardup_pairs_lsh(
        _embs(spark, sf_dir), 0.45, n_bands=4, band_bits=2
    )


# Dataset assembly: splits, sampling quotas, decontamination ---------------

_D_KEYHASH = _D_H32.format(s="CAST(doc_id AS VARCHAR)")

_DATASET_SPLIT_ORACLE = f"""
WITH b AS (SELECT doc_id, {_D_KEYHASH} % 100 AS bucket FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@register("dataset_split", _DATASET_SPLIT_ORACLE, tags=["llm", "sampling"])
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split: bucket = H32(doc_id) mod
    100, assignment a pure function of the key — stable under
    re-partitioning and incremental corpus growth, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.with_split(docs).select("doc_id", "bucket", "split")


_STRATIFIED_SAMPLE_ORACLE = f"""
WITH r AS (
    SELECT doc_id, lang, row_number() OVER (
        PARTITION BY lang ORDER BY {_D_KEYHASH}, doc_id) AS rn
    FROM documents
)
SELECT doc_id, lang FROM r WHERE rn <= 20
"""


@register("stratified_sample", _STRATIFIED_SAMPLE_ORACLE, tags=["llm", "sampling"])
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: the 20 hash-smallest docs per
    language — a deterministic uniform draw with exact per-stratum counts
    (window TopK; partial limit below the exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_topn_sample(docs, 20, "lang").select("doc_id", "lang")


_MIXTURE_RATES = {"en": 50, "de": 30, "es": 20, "fr": 20, "zh": 10}

_RATE_SAMPLE_ORACLE = f"""
SELECT doc_id, lang FROM documents
WHERE {_D_KEYHASH} % 100 < CASE lang {' '.join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIXTURE_RATES.items())} END
"""


@register("mixture_rate_sample", _RATE_SAMPLE_ORACLE, tags=["llm", "sampling"])
def q_mixture_rate_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixture weighting via deterministic rate sampling:
    keep iff H32(doc_id) mod 100 < rate[lang]. Broadcast quota dim +
    row-local hash compare — the corpus never shuffles (the 100 TB
    mixture path)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_rate_sample(docs, _MIXTURE_RATES).select(
        "doc_id", "lang"
    )


def _decontaminate_oracle(n: int = 8) -> str:
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    h = _D_H32.format(s="s")
    return f"""
WITH toks AS (SELECT doc_id, source,
                     {_D_TOKENS.format(col='text')} AS tk FROM documents),
sh AS (SELECT doc_id, source,
              list_distinct(list_transform(
                  [{grams} for i in range(1, len(tk) - {n - 2})],
                  s -> {h} % {MERSENNE_P})) AS hsh
       FROM toks),
tr AS (SELECT doc_id, unnest(hsh) AS h FROM sh WHERE source <> 'src0'),
be AS (SELECT DISTINCT unnest(hsh) AS h FROM sh WHERE source = 'src0')
SELECT tr.doc_id, count(*) AS n_shared
FROM tr JOIN be USING (h) GROUP BY 1
"""


@register("decontaminate", _decontaminate_oracle(8), tags=["llm", "sampling"])
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (source <> 'src0') sharing
    any word 8-gram with the benchmark set (source = 'src0'), with the
    count of distinct shared 8-gram hashes. Postings equi-join on the
    hash; the benchmark side is broadcast-sized, the corpus never
    shuffles."""
    docs = _docs(spark, sf_dir)
    return sampling.contaminated_docs(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=8,
    )


_PACK_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang,
           len({_D_TOKENS.format(col='text')}) AS n_tokens
    FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)
       AS BIGINT) AS pack_id
FROM t
"""


@register("sequence_packing", _PACK_ORACLE, tags=["llm", "sampling"])
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy sequence packing into 512-token budgets:
    pack_id = floor(exclusive-prefix-sum(n_tokens) / budget) per language.
    One shuffle on the partition column, per-partition local sort."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.pack_sequences(docs, budget_tokens=512).select(
        "doc_id", "lang", "n_tokens", "pack_id"
    )


_UPSAMPLE_COPIES = {"zh": 4, "fr": 3, "es": 2, "de": 1, "en": 1}

_UPSAMPLE_ORACLE = f"""
SELECT doc_id, lang, unnest(range(0, CASE lang {' '.join(
    f"WHEN '{k}' THEN {v}" for k, v in _UPSAMPLE_COPIES.items())} END)) AS epoch
FROM documents
"""


_QUANTIZE_ORACLE = """
WITH scaled AS (
    SELECT vec_id,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS s_raw
    FROM embeddings
),
sc AS (
    SELECT vec_id,
           CAST(sign(s_raw) * floor(abs(s_raw) * 1e9 + 0.5) / 1e9 AS DOUBLE) AS scale
    FROM scaled
),
q AS (
    SELECT e.vec_id, sc.scale,
           CASE WHEN sc.scale = 0.0
                THEN list_transform(e.embedding, x -> CAST(0 AS BIGINT))
                ELSE list_transform(e.embedding, x -> CAST(
                     greatest(-127.0, least(127.0,
                         sign(CAST(x AS DOUBLE) / sc.scale)
                         * floor(abs(CAST(x AS DOUBLE) / sc.scale) + 0.5)))
                     AS BIGINT))
           END AS code
    FROM embeddings e JOIN sc ON e.vec_id = sc.vec_id
)
SELECT vec_id, scale,
       CAST(list_sum(list_transform(code, x -> abs(x))) AS BIGINT) AS l1_code,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), code),
                        (a, x) -> (a * 31 + x + 127) % 1000000007) AS BIGINT)
           AS code_checksum
FROM q
"""


@register("embedding_quantize_int8", _QUANTIZE_ORACLE, tags=["llm", "similarity"])
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|x|/127) — the
    4x storage-compression step for a 100 TB embedding store. Pure
    higher-order array expressions over the scan; the oracle reproduces
    codes bit-for-bit via the rounded-scale contract."""
    return similarity.quantize_int8(_embs(spark, sf_dir))


_SHUFFLE_ORACLE = f"""
SELECT doc_id,
       CAST(row_number() OVER (
           ORDER BY {{h}} , doc_id) AS BIGINT) - 1 AS shuffle_pos
FROM documents
""".format(h="CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'epoch0'), 1, 8) AS BIGINT)")


@register("dataset_shuffle", _SHUFFLE_ORACLE, tags=["llm", "sampling"])
def q_dataset_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: dense training order 0..N-1 by the
    portable hash of (doc_id, seed). Range-exchange + per-partition sort
    + broadcast offset join — the total order WITHOUT a single-reducer
    sort (the oracle's row_number over a global ORDER BY is the semantic
    spec, not the physical plan)."""
    return sampling.dataset_shuffle(load_table(spark, sf_dir, "documents"))


@register("upsample_epochs", _UPSAMPLE_ORACLE, tags=["llm", "sampling"])
def q_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-style upsampling: repeat rare-language documents N times with
    an epoch tag (the repeat-side of mixture weighting). Broadcast copies
    dim + sequence explode; the corpus is read once, never shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.upsample_by_rate(docs, _UPSAMPLE_COPIES).select(
        "doc_id", "lang", "epoch"
    )


# Corpus hygiene: span dedup, repetition, distinctive terms ----------------

_SPAN = 10

_SPAN_DEDUP_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_D_TOKENS.format(col='text')} AS tk FROM documents),
sp AS (SELECT doc_id,
              [{{'idx': (i - 1) // {_SPAN},
                 'h': {_D_H32.format(s="array_to_string(tk[i:i+" + str(_SPAN - 1) + "], ' ')")} % {MERSENNE_P}}}
               for i in range(1, len(tk) - {_SPAN - 2}, {_SPAN})] AS spans
       FROM toks WHERE len(tk) >= {_SPAN}),
posts AS (SELECT doc_id, unnest(spans, recursive := true) FROM sp),
rn AS (SELECT doc_id, idx, h,
              row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
       FROM posts)
SELECT doc_id, count(*) AS n_spans,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
FROM rn GROUP BY 1
"""


@register("span_dedup", _SPAN_DEDUP_ORACLE, tags=["llm", "dedup"])
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span dedup (C4/CCNet line-dedup shape): per doc, how
    many fixed 10-token spans duplicate an earlier (doc_id, idx)
    occurrence corpus-wide. Postings → skew-safe min-struct first-
    occurrence agg → equi-join on the span hash; never pairwise."""
    return dedup.span_dedup_counts(_docs(spark, sf_dir), span=_SPAN)


_REPETITION_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_D_TOKENS.format(col='text')} AS tk FROM documents),
g AS (SELECT doc_id, len(tk) - 2 AS n_grams,
             len(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                                for i in range(1, len(tk) - 1)])) AS n_distinct
      FROM toks WHERE len(tk) >= 3)
SELECT doc_id, n_grams, n_distinct,
       round((n_grams - n_distinct) / CAST(n_grams AS DOUBLE), 6) AS dup_ratio
FROM g
"""


@register("repetition_stats", _REPETITION_ORACLE, tags=["llm", "text"])
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition metric: duplicate trigram
    fraction per document. Pure map over the scan — zero shuffle."""
    return text.repetition_stats(_docs(spark, sf_dir), n=3)


_TFIDF_ORACLE = f"""
WITH tf AS (
    SELECT doc_id, unnest({_D_TOKENS.format(col='text')}) AS term
    FROM documents
),
tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
r AS (
    SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
           row_number() OVER (
               PARTITION BY tfc.doc_id
               ORDER BY tfc.tf DESC, dfc.df ASC, tfc.term ASC) AS rn
    FROM tfc JOIN dfc USING (term)
)
SELECT doc_id, term, tf, df, rn FROM r WHERE rn <= 3
"""


@register("tfidf_top_terms", _TFIDF_ORACLE, tags=["llm", "text"])
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per doc: integer-exact TF-IDF ordering
    (tf DESC, df ASC, term ASC), top-3. One tf shuffle; the df dim joins
    back broadcast; WindowGroupLimit bounds the final top-k exchange."""
    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3)


_CHUNK_DOCS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_D_TOKENS.format(col='text')} AS tk FROM documents
),
ch AS (
    SELECT doc_id, tk,
           unnest(range(0, CAST(ceil(len(tk) / 64.0) AS BIGINT))) AS j
    FROM toks
)
SELECT doc_id, j AS chunk_idx,
       array_to_string(list_slice(tk, j * 64 + 1,
                                  least((j + 1) * 64, len(tk))), ' ')
           AS chunk_text,
       CAST(least((j + 1) * 64, len(tk)) - j * 64 AS BIGINT) AS n_tokens
FROM ch
"""


@register("chunk_docs", _CHUNK_DOCS_ORACLE, tags=["llm", "text"])
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document split into consecutive
    64-token chunks (doc → training-example expansion). Narrow map only —
    explode a cheap index sequence, slice the token array per row; zero
    shuffle, zero Python. A Python-UDTF twin (text.chunk_docs_udtf)
    covers the Spark 4 UDTF surface and is tested equal."""
    return text.chunk_docs(_docs(spark, sf_dir), chunk_tokens=64)


_CHUNK_OVERLAP_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {_D_TOKENS.format(col='text')} AS tk FROM documents
),
ch AS (
    SELECT doc_id, tk,
           unnest(range(0, CASE WHEN len(tk) <= 64 THEN 1
                 ELSE CAST(ceil((len(tk) - 64) / 48.0) AS BIGINT) + 1 END)) AS j
    FROM toks
)
SELECT doc_id, j AS chunk_idx,
       array_to_string(list_slice(tk, j * 48 + 1,
                                  least(j * 48 + 64, len(tk))), ' ')
           AS chunk_text,
       CAST(least(j * 48 + 64, len(tk)) - j * 48 AS BIGINT) AS n_tokens
FROM ch
"""


@register("chunk_docs_overlap", _CHUNK_OVERLAP_ORACLE, tags=["llm", "text"])
def q_chunk_docs_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (64-token windows, stride 48 —
    16 tokens shared between consecutive chunks): the standard LLM
    training-example splitter where no span is cut without context. Same
    zero-shuffle explode-cheap-index plan as chunk_docs."""
    return text.chunk_docs_overlap(_docs(spark, sf_dir), chunk_tokens=64, stride=48)


_FRAME_SAMPLING_ORACLE = """
WITH assets AS (
    SELECT doc_id, n_chars % 100 AS n_frames FROM documents
)
SELECT doc_id, unnest(range(0, n_frames, 10)) AS frame_idx
FROM assets WHERE n_frames > 0
"""


@register("frame_sampling_plan", _FRAME_SAMPLING_ORACLE, tags=["llm", "multimodal"])
def q_frame_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one row per sampled frame index (every
    10th frame) per asset — the explode/UDTF side of the multimodal path
    (multimodal.frame_sample_indices; the decode of each sampled frame is
    the stubbed codec step). Frame counts are derived deterministically
    from document metadata since the testdata has no real video column."""
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id", (F.col("n_chars") % 100).cast("int").alias("n_frames")
    ).filter(F.col("n_frames") > 0)
    return assets.select(
        "doc_id",
        F.explode(multimodal.frame_sample_indices("n_frames", 10)).alias("frame_idx"),
    ).withColumn("frame_idx", F.col("frame_idx").cast("long"))


_AUDIO_SEGMENT_ORACLE = """
WITH assets AS (
    SELECT doc_id, CAST(8000 + n_chars * 10 AS BIGINT) AS n_samples
    FROM documents
)
SELECT doc_id,
       CAST(start // 16000 AS BIGINT) AS seg_idx,
       CAST(start AS BIGINT) AS start_sample,
       CAST(least(16000, n_samples - start) AS BIGINT) AS seg_len,
       CAST(16000 AS BIGINT) AS sample_rate
FROM (SELECT doc_id, n_samples, unnest(range(0, n_samples, 16000)) AS start
      FROM assets)
"""


@register("audio_segment_plan", _AUDIO_SEGMENT_ORACLE, tags=["llm", "multimodal"])
def q_audio_segment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation through the REAL binary path: fake-codec
    payloads (FAKEAUD header, n_samples from document metadata) decoded
    inside Arrow-batched mapInPandas, one row per fixed 16k-sample
    segment with a partial tail — the speech-corpus splitter shape. The
    oracle recomputes the segment grid from the same metadata arithmetic."""
    assets = multimodal.documents_as_audio_assets(_docs(spark, sf_dir))
    return multimodal.segment_audio(assets)


@register("binary_features", _BINARY_FEATURES_ORACLE, tags=["llm", "multimodal"])
def q_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing, driver-verified: documents → binary
    payloads → Arrow-batched mapInPandas feature extraction (byte length +
    sha256). Exercises the real binary/Arrow path end-to-end."""
    assets = multimodal.documents_as_binary_assets(_docs(spark, sf_dir))
    return multimodal.extract_features(assets).select(
        "doc_id", "n_bytes", "payload_sha256"
    )


_IMAGE_RESIZE_ORACLE = """
WITH dims AS (
    SELECT doc_id,
           CAST(8 + n_chars % 32 AS INTEGER) AS w,
           CAST(8 + doc_id % 24 AS INTEGER) AS h
    FROM documents
), r AS (
    SELECT doc_id, w, h,
           CAST(greatest(1, (w * 16) // greatest(w, h)) AS INTEGER) AS nw,
           CAST(greatest(1, (h * 16) // greatest(w, h)) AS INTEGER) AS nh
    FROM dims
)
SELECT doc_id, w AS src_w, h AS src_h, nw AS width, nh AS height,
       CAST(8 + length(CAST(nw AS VARCHAR)) + 1
              + length(CAST(nh AS VARCHAR)) + 1 + nw * nh AS BIGINT) AS n_bytes
FROM r
"""


@register("image_resize", _IMAGE_RESIZE_ORACLE, tags=["llm", "multimodal"])
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: fake-image payloads (deterministic dims
    from document metadata, body = text bytes) → binary-in/binary-out
    Arrow-batched resize (aspect-preserving fit into 16×16, body tiled to
    exactly width*height bytes) → size contract. The oracle recomputes the
    fitted dims and the resized payload's byte length arithmetically, so a
    wrong output payload (bad header, bad body size) hash-mismatches;
    pytest checks the tiled bytes themselves. No shuffle: one mapInPandas
    stage, linear in corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = (F.lit(8) + F.col("n_chars") % 32).cast("int")
    h = (F.lit(8) + F.col("doc_id") % 24).cast("int")
    header = F.concat_ws(
        "", F.lit("FAKEIMG:"), w.cast("string"), F.lit("x"), h.cast("string"), F.lit(":")
    )
    assets = docs.select(
        "doc_id",
        F.lit("image").alias("media_type"),
        F.concat(F.encode(header, "UTF-8"), F.encode(F.col("text"), "UTF-8")).alias(
            "payload"
        ),
    )
    assets = repartition_for_compute(assets)
    resized = multimodal.resize_images(assets, target=16)
    return resized.select(
        "doc_id", "src_w", "src_h", "width", "height",
        F.length("payload").cast("long").alias("n_bytes"),
    )


@register(
    "edit_distance_neighbors",
    """
    SELECT a.doc_id AS doc_id,
           levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40))
               AS edit_dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """,
    tags=["llm", "dedup"],
)
def q_edit_distance_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance between adjacent documents' 40-char
    prefixes — the character-level fuzzy-match primitive (complement of
    the token-set Jaccard family; used on titles/URLs where token sets
    are too coarse). Integer result, engine-exact. The id+1 self-join is
    an equi-join (one shuffle); in a real pipeline the pair source is an
    LSH/banding candidate stage, never all-pairs — edit distance is
    O(len²) per pair and belongs strictly AFTER candidate pruning.

    Distance metric is the oracle's BYTE-level Levenshtein: DuckDB's
    levenshtein counts UTF-8 bytes while Spark's counts code points —
    equal on ASCII corpora (every organic table; results re-proven
    bit-identical), divergent on any non-ASCII prefix ('café' vs
    'cafe' is 2 bytewise, 1 codepointwise — r14 universe-fuzz find).
    Reinterpreting the UTF-8 bytes 1:1 as ISO-8859-1 code points makes
    Spark's JVM-side levenshtein count bytes too, keeping the
    agreement a property of the semantics rather than of the corpus's
    character set."""
    docs = load_table(spark, sf_dir, "documents")

    def bytes_as_chars(c: F.Column) -> F.Column:
        return F.decode(F.encode(c, "UTF-8"), "ISO-8859-1")

    a = docs.select(
        "doc_id", bytes_as_chars(F.substring("text", 1, 40)).alias("pa")
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        bytes_as_chars(F.substring("text", 1, 40)).alias("pb"),
    )
    return a.join(b, "doc_id").select(
        "doc_id", F.levenshtein("pa", "pb").cast("long").alias("edit_dist")
    )


_BPE_PAIRS_ORACLE = f"""
WITH t AS (
    SELECT {_D_TOKENS.format(col='text')} AS tk FROM documents
),
idx AS (
    SELECT tk, unnest(range(0, len(tk) - 1)) AS j FROM t
),
p AS (
    SELECT tk[CAST(j AS INT) + 1] || ' ' || tk[CAST(j AS INT) + 2] AS pair
    FROM idx
)
SELECT pair, count(*) AS n FROM p
GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20
"""


@register("bpe_pair_counts", _BPE_PAIRS_ORACLE, tags=["llm", "text"])
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, top 20 — the counting
    step of a BPE/WordPiece tokenizer trainer's merge round
    (llm/text.py:adjacent_pair_counts). Tokenize once, explode a cheap
    guarded index, one count shuffle with map-side partials, top-k via
    per-partition heaps. Deterministic: count DESC, pair ASC."""
    return text.adjacent_pair_counts(_docs(spark, sf_dir), k=20)


_LSH_RECALL_ORACLE = f"""
WITH exact AS (SELECT id_a, id_b FROM ({_COSINE_NEARDUP_ORACLE})),
     cand AS (SELECT id_a, id_b FROM ({_COSINE_LSH_NEARDUP_ORACLE}))
SELECT
    (SELECT count(*) FROM exact) AS n_exact,
    (SELECT count(*) FROM cand) AS n_lsh,
    (SELECT count(*) FROM exact e
       JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b) AS n_common,
    CAST(round(10000.0 * (SELECT count(*) FROM exact e
                            JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b)
               / nullif((SELECT count(*) FROM exact), 0)) AS BIGINT)
        AS recall_bp
"""


@register("neardup_lsh_recall_report", _LSH_RECALL_ORACLE, tags=["llm", "dedup"])
def q_neardup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the banded-LSH recall trade the scale path makes: runs
    the exact cosine near-dup pairs (collect-guarded baseline) AND the
    banded sign-LSH candidates at the same 0.45 threshold, then reports
    pair counts, their intersection, and recall in basis points. The LSH
    pairs are provably a subset (same rounded sim, same threshold), so
    n_common == n_lsh and recall_bp measures exactly what banding drops
    — the number the 100 TB operator trades for boundedness. Three tiny
    1-row aggregates cross-joined; the heavy lifting is the two
    candidate pipelines themselves."""
    exact = similarity.cosine_neardup_pairs(_embs(spark, sf_dir), 0.45).select(
        "id_a", "id_b"
    )
    cand = similarity.cosine_neardup_pairs_lsh(
        _embs(spark, sf_dir), 0.45, n_bands=4, band_bits=2
    ).select("id_a", "id_b")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nl = cand.agg(F.count(F.lit(1)).alias("n_lsh"))
    nc = exact.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_common")
    )
    # A corpus with NO exact near-dup pairs (a single vector, all-zero
    # vectors) zeroes the denominator; the oracle already NULLs it via
    # nullif(n_exact, 0), and n_common <= n_exact makes the numerator
    # provably 0 there — the guard only swaps the ANSI DIVIDE_BY_ZERO
    # crash for that NULL (r14 fixture-fuzz sweep find).
    return (
        ne.crossJoin(nl)
        .crossJoin(nc)
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.when(
                F.col("n_exact") != 0,
                F.round(F.lit(10000.0) * F.col("n_common") / F.col("n_exact")),
            ).cast("long").alias("recall_bp"),
        )
    )


@register(
    "canonical_per_source",
    """
    SELECT source, doc_id AS canonical_doc_id, n_chars
    FROM (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
    tags=["llm", "dedup"],
)
def q_canonical_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain-level dedup: keep ONE canonical document per source,
    preferring the longest (then smallest id — total order, no ties).
    The standard crawl-dedup step before content-level near-dup. One
    shuffle on source; WindowGroupLimit pushes the rank-1 cutoff below
    the exchange so only per-partition winners cross the wire."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source", F.col("doc_id").alias("canonical_doc_id"), "n_chars"
        )
    )


def _rowlocal_minhash_oracle(num_hashes: int = 8) -> str:
    sig = ", ".join(
        f"list_min([({a} * h + {b}) % {MERSENNE_P} for h in hsh])"
        for a, b in minhash_coefficients(num_hashes)
    )
    return f"""
WITH {_oracle_shingle_cte()},
sigs AS (
    SELECT doc_id, [{sig}] AS sig FROM sh WHERE len(hsh) > 0
),
keys AS (
    SELECT doc_id, array_to_string(sig, '_') AS sig_key FROM sigs
)
SELECT sig_key, min(doc_id) AS canonical_doc_id, count(*) AS n_docs
FROM keys GROUP BY 1
"""


@register(
    "streaming_minhash_dedup",
    _rowlocal_minhash_oracle(),
    tags=["llm", "dedup", "streaming"],
)
def q_streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus dedup by MinHash signature (T5 × LLM-dedup
    crossover): documents stream through a row-local signature
    (dedup.with_minhash_key — Structured Streaming allows ONE stateful
    aggregate, so the signature must not need its own groupBy), then an
    update-mode aggregate keyed by signature keeps (min doc_id, count)
    per group — state is one tuple per DISTINCT document signature, the
    canonical bounded-dedup-state shape. Emissions drain through
    foreachBatch parquet; the final per-key reduction (min canonical,
    max count — both monotonic) equals the batch GROUP BY regardless of
    arrival order or batch boundaries, which is what the oracle checks."""
    from streambench_spark.sources.replay import stream_table
    from streambench_spark.streaming.ysb import run_update_to_parquet

    docs_stream = stream_table(spark, sf_dir, "documents")
    keyed = dedup.with_minhash_key(docs_stream)
    agg = keyed.groupBy("sig_key").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    emissions = run_update_to_parquet(spark, agg)
    return emissions.groupBy("sig_key").agg(
        F.min("canonical_doc_id").alias("canonical_doc_id"),
        F.max("n_docs").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Round-3 additions: Gopher rules, contamination scoring, containment
# near-dup, quality-aware dedup
# ---------------------------------------------------------------------------

# single-sourced from text.GOPHER_RULES (valid SQL in both engines) so a
# threshold tune can't silently diverge the oracle from the operator
_GOPHER_RULES = text.GOPHER_RULES
_GOPHER_STOPS = ", ".join(f"'{w}'" for w in text.GOPHER_STOPWORDS)
_GOPHER_KEEP = " AND ".join(f"({c})" for c in _GOPHER_RULES.values())
_GOPHER_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           {_D_TOKENS.format(col='text')} AS tk,
           string_split(text, chr(10)) AS ln,
           (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3 AS n_sym
    FROM documents
), m AS (
    SELECT doc_id,
           len(tk) AS n_words,
           coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS sum_len,
           len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
           len(list_intersect(list_distinct(tk),
               [{_GOPHER_STOPS}])) AS n_stop,
           len(ln) AS n_lines,
           len(list_filter(ln,
               l -> starts_with(l, '- ') OR starts_with(l, '* '))) AS n_bullet,
           len(list_filter(ln, l -> ends_with(l, '...'))) AS n_ell,
           n_sym
    FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       {", ".join(f"CAST({c} AS BIGINT) AS {n}" for n, c in _GOPHER_RULES.items())},
       CAST({_GOPHER_KEEP} AS BIGINT) AS keep
FROM m
"""


@register("gopher_quality_rules", _GOPHER_ORACLE, tags=["llm", "text"])
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published Gopher document-quality rules as per-rule 0/1 flags +
    the keep conjunction; every ratio threshold cross-multiplied into an
    integer comparison, one codegen scan (llm/text.py:gopher_rules)."""
    return text.gopher_rules(_docs(spark, sf_dir))


def _contamination_scores_oracle(n: int = 8) -> str:
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    h = _D_H32.format(s="s")
    return f"""
WITH toks AS (SELECT doc_id, source,
                     {_D_TOKENS.format(col='text')} AS tk FROM documents),
sh AS (SELECT doc_id, source,
              list_distinct(list_transform(
                  [{grams} for i in range(1, len(tk) - {n - 2})],
                  s -> {h} % {MERSENNE_P})) AS hsh
       FROM toks),
tot AS (SELECT doc_id, CAST(len(hsh) AS BIGINT) AS n_grams
        FROM sh WHERE source <> 'src0' AND len(hsh) >= 1),
tr AS (SELECT doc_id, unnest(hsh) AS h FROM sh WHERE source <> 'src0'),
be AS (SELECT DISTINCT unnest(hsh) AS h FROM sh WHERE source = 'src0'),
ov AS (SELECT tr.doc_id, count(*) AS n_shared
       FROM tr JOIN be USING (h) GROUP BY 1)
SELECT tot.doc_id, n_grams,
       CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
       round(CAST(coalesce(n_shared, 0) AS DOUBLE) / n_grams, 6)
           AS contamination
FROM tot LEFT JOIN ov USING (doc_id)
"""


@register(
    "contamination_scores", _contamination_scores_oracle(8), tags=["llm", "sampling"]
)
def q_contamination_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoring twin of decontaminate: per-training-doc fraction of its
    distinct 8-gram hashes shared with the benchmark split (source =
    'src0') — 0 for clean docs, so the pipeline thresholds at will."""
    docs = _docs(spark, sf_dir)
    return sampling.contamination_scores(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=8,
    )


_CONTAINMENT_ORACLE = f"""
WITH {_oracle_shingle_cte()},
ex AS (SELECT doc_id, len(hsh) AS n_sh, unnest(hsh) AS s FROM sh),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
           count(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / least(na, nb), 6) AS containment
FROM pairs
WHERE round(CAST(inter AS DOUBLE) / least(na, nb), 6) >= 0.6
"""


@register("neardup_containment", _CONTAINMENT_ORACLE, tags=["llm", "dedup"])
def q_neardup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: containment |A∩B| / min(|A|,|B|) >= 0.6 —
    catches short-doc-inside-long-doc pairs Jaccard misses (the union
    grows with the size gap, the min does not)."""
    return dedup.ngram_containment_pairs(_docs(spark, sf_dir), threshold=0.6)


_KEEP_BEST_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           CAST(len(list_filter({_D_TOKENS.format(col='text')},
                                x -> x <> '')) AS BIGINT)
               AS n_tok,
           sha256(regexp_replace(trim(lower(text)), '{_D_WS}+', ' ', 'g'))
               AS text_hash
    FROM documents
),
ranked AS (
    SELECT text_hash, doc_id, n_tok,
           row_number() OVER (
               PARTITION BY text_hash ORDER BY n_tok DESC, doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY text_hash) AS n_copies
    FROM t
)
SELECT text_hash, CAST(n_copies AS BIGINT) AS n_copies,
       doc_id AS best_id, n_tok AS best_tokens
FROM ranked WHERE rn = 1
"""


@register("dedup_keep_best", _KEEP_BEST_ORACLE, tags=["llm", "dedup"])
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the longest copy per group (ties → min id) —
    a map-side-combining argmax struct, same skew-free sha256 shuffle as
    exact_dedup."""
    return dedup.exact_dedup_keep_best(_docs(spark, sf_dir))


_BF_WORDS, _BF_K, _BF_BPW = 512, 3, 31
_BF_BITS = _BF_WORDS * _BF_BPW


def _bloom_decon_oracle(n: int = 8) -> str:
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    h = _D_H32.format(s="s")
    h1 = _D_H32.format(s="'bf1:' || CAST(h AS VARCHAR)")
    h2 = _D_H32.format(s="'bf2:' || CAST(h AS VARCHAR)")
    # step 1 + (h2 % (bits-1)) mirrors sketches._bloom_posarr_expr: never 0,
    # so the k probes can't collapse onto one bit
    pos = f"(({h1}) + i * (1 + (({h2}) % {_BF_BITS - 1}))) % {_BF_BITS}"
    return f"""
WITH toks AS (SELECT doc_id, source,
                     {_D_TOKENS.format(col='text')} AS tk FROM documents),
sh AS (SELECT doc_id, source,
              list_distinct(list_transform(
                  [{grams} for i in range(1, len(tk) - {n - 2})],
                  s -> {h} % {MERSENNE_P})) AS hsh
       FROM toks),
tr AS (SELECT DISTINCT doc_id, unnest(hsh) AS h FROM sh WHERE source <> 'src0'),
be AS (SELECT DISTINCT unnest(hsh) AS h FROM sh WHERE source = 'src0'),
bepos AS (SELECT {pos} AS pos FROM be, range({_BF_K}) r(i)),
bloom AS (SELECT pos // {_BF_BPW} AS widx,
                 bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BF_BPW} AS INT)) AS word
          FROM bepos GROUP BY 1),
trpos AS (SELECT doc_id, h, i, {pos} AS pos FROM tr, range({_BF_K}) r(i)),
hits AS (
    SELECT t.doc_id, t.h, count(DISTINCT t.i) AS kh
    FROM trpos t JOIN bloom b
      ON t.pos // {_BF_BPW} = b.widx
     AND (b.word & (CAST(1 AS BIGINT) << CAST(t.pos % {_BF_BPW} AS INT)))
         = (CAST(1 AS BIGINT) << CAST(t.pos % {_BF_BPW} AS INT))
    GROUP BY 1, 2
)
SELECT doc_id, count(*) AS n_flagged
FROM hits WHERE kh = {_BF_K} GROUP BY 1
"""


@register("bloom_decontaminate", _bloom_decon_oracle(8), tags=["llm", "sketch"])
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — the sketch twin of `decontaminate`:
    benchmark 8-gram hashes are folded into a 512-word (15,872-bit, k=3)
    Bloom filter by bit_or aggregation, and every training doc reports
    how many of its distinct 8-grams test positive. The filter is
    FIXED-SIZE no matter how large the benchmark suite grows (the exact
    path's broadcast gram set grows linearly), and the probe side joins
    the broadcast words without shuffling the corpus — at 100 TB this is
    the membership pre-filter in front of exact verification. One-sided
    error: n_flagged >= the exact n_shared per doc (~1% FP at these
    parameters), and the portable double-hashing (Kirsch-Mitzenmacher)
    makes every bit — and so every false positive — identical in the
    DuckDB oracle."""
    from streambench_spark.operators.sketches import bloom_build, bloom_probe

    docs = _docs(spark, sf_dir)
    bench_h = (
        dedup.shingle_postings(docs.filter(F.col("source") == "src0"), 8)
        .select("h")
        .distinct()
    )
    bloom = bloom_build(bench_h, "h", _BF_WORDS, _BF_K)
    train = dedup.shingle_postings(docs.filter(F.col("source") != "src0"), 8)
    flagged = bloom_probe(train, bloom, "h", _BF_WORDS, _BF_K)
    return flagged.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_flagged"))


_WSAMPLE_ORACLE = """
SELECT doc_id, lang, n_chars FROM (
    SELECT doc_id, lang, n_chars,
           pow((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) + 1) / 4294967296.0,
               1.0 / n_chars) AS k
    FROM documents
    ORDER BY k DESC, doc_id ASC LIMIT 100
)
"""


@register("weighted_sample", _WSAMPLE_ORACLE, tags=["llm", "sampling"])
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample of 100 documents without replacement
    (A-ES: rank by u^(1/n_chars), u drawn from the portable key hash) —
    the deterministic mixture-sampling primitive for when weights are
    continuous rather than per-stratum rates. Row-local scoring + global
    TopK; no shuffle beyond the n-row ordered exchange."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.weighted_topn_sample(docs, 100, "n_chars").select(
        "doc_id", "lang", "n_chars"
    )


_BIGRAM_LM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_D_TOKENS.format(col='text')} AS tk FROM documents),
bi0 AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS pos
        FROM toks WHERE len(tk) >= 2),
bi AS (SELECT doc_id, pos, tk[pos] AS w1, tk[pos + 1] AS w2 FROM bi0),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
v AS (SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(tk) AS w FROM toks)),
terms AS (
    SELECT bi.doc_id, bi.pos,
           ln(CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE)) AS lp
    FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(list_reduce(
                 list_prepend(CAST(0 AS DOUBLE), list(lp ORDER BY pos)),
                 (a, x) -> a + x) / count(*), 6) AS avg_logp
FROM terms GROUP BY doc_id
"""


@register("bigram_lm_score", _BIGRAM_LM_ORACLE, tags=["llm", "text"])
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring: per-doc average log-likelihood under an
    add-one bigram model trained on the corpus itself. The model counts
    are count WINDOWS over the single bigram stream (NOT broadcast
    joins — web-scale bigram vocabularies are corpus-sized, and the r08
    rewrite cut the corpus passes from four to two); the per-doc sum is
    a position-sorted left fold so the float total is engine-exact."""
    return text.bigram_logprob_scores(_docs(spark, sf_dir))


_NORM_STATS_ORACLE = """
WITH norms AS (
    SELECT label,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
    FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       min(nrm) AS min_norm, max(nrm) AS max_norm,
       round(CAST(sum(CAST(nrm AS DECIMAL(18, 6))) AS DOUBLE) / count(*), 6)
           AS avg_norm
FROM norms GROUP BY 1
"""


@register("embedding_norm_stats", _NORM_STATS_ORACLE, tags=["llm", "embeddings"])
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics over the embedding column — the
    sanity profile run before any cosine pipeline (unnormalized or
    zero vectors break cosine silently). The per-row norm is a LEFT FOLD
    over the array (element order is part of the row, so the float sum
    is deterministic); the cross-row mean is made order-independent by
    summing the 6dp-rounded norms as DECIMAL(18,6) — decimal addition is
    exact and associative, so any partitioning yields the identical
    aggregate, where a double SUM would drift in the last bits. Min/max
    are order-free already. One scan, one group aggregate."""
    embs = _embs(spark, sf_dir)
    norms = embs.select(
        "label",
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(embedding, CAST(0 AS DOUBLE), "
                    "(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
                )
            ),
            6,
        ).alias("nrm"),
    )
    # The mean can land EXACTLY on a 6dp half-boundary (two rounded
    # norms summing to an odd last digit over n=2 did, in the r14
    # universe fuzz): Spark's F.round rounds the double's SHORTEST
    # DECIMAL REPR half-up (BigDecimal.valueOf) and said 4.092265,
    # while the oracle rounds the BINARY value (multiply + C round)
    # and said 4.092264. floor(x·1e6 + 0.5)/1e6 is bit-equal to
    # DuckDB's round for all x >= 0 (norms are), so the one output
    # with a data-dependent half-boundary uses it.
    mean = (
        F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double")
        / F.count(F.lit(1))
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
        (F.floor(mean * 1e6 + 0.5) / 1e6).alias("avg_norm"),
    )


_COV_ORACLE = """
WITH pairs AS (
    SELECT label, r1.i AS i, r2.j AS j,
           (sign(CAST(embedding[r1.i + 1] AS DOUBLE) * CAST(embedding[r2.j + 1] AS DOUBLE)) * floor(abs(CAST(embedding[r1.i + 1] AS DOUBLE) * CAST(embedding[r2.j + 1] AS DOUBLE)) * 1e12 + 0.5) / 1e12) AS p
    FROM embeddings, range(64) r1(i), range(64) r2(j)
    WHERE r2.j >= r1.i
),
sums AS (
    SELECT label, i, j,
           CAST(sum(CAST(p AS DECIMAL(28, 12))) AS DOUBLE) AS sp,
           CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1, 2, 3
),
means AS (
    SELECT label, r.i AS i,
           CAST(sum(CAST((sign(CAST(embedding[r.i + 1] AS DOUBLE)) * floor(abs(CAST(embedding[r.i + 1] AS DOUBLE)) * 1e12 + 0.5) / 1e12)
                         AS DECIMAL(28, 12))) AS DOUBLE) AS sm
    FROM embeddings, range(64) r(i) GROUP BY 1, 2
)
SELECT s.label, s.i, s.j,
       round(s.sp / s.n - (mi.sm / s.n) * (mj.sm / s.n), 6) + 0.0 AS cov
FROM sums s
JOIN means mi ON mi.label = s.label AND mi.i = s.i
JOIN means mj ON mj.label = s.label AND mj.i = s.j
"""


@register("embedding_covariance", _COV_ORACLE, tags=["llm", "embeddings"])
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix per label (upper triangle, 64x64)
    — the linear-algebra substrate for PCA/whitening over an embedding
    corpus. Product terms x_i*x_j of float32 values are EXACT doubles
    (24-bit mantissas multiply into 53 bits losslessly); rounding each
    term to 12dp and summing as DECIMAL(28,12) makes the cross-row sums
    order-independent, so any partitioning — and the oracle — lands on
    identical covariances. Shape: two cheap-index Generates expand the
    (i, j<=i) pairs per row (never an expensive computed array below a
    generator), the array column is projected away BEFORE the aggregate,
    and the only shuffles carry (label, i, j) partial sums — d^2/2 keys,
    independent of corpus size. Means ride a second d-key aggregate
    joined back on (label, dim)."""
    embs = _embs(spark, sf_dir)
    pairs = (
        embs.select("label", "embedding", F.explode(F.expr("sequence(0, 63)")).alias("i"))
        .select("label", "embedding", "i", F.explode(F.expr("sequence(i, 63)")).alias("j"))
        .select(
            "label", "i", "j",
            F.expr(
                "CAST((sign(CAST(embedding[i] AS DOUBLE) "
                "* CAST(embedding[j] AS DOUBLE)) * floor(abs("
                "CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)"
                ") * 1e12 + 0.5) / 1e12) AS DECIMAL(28, 12))"
            ).alias("p"),
        )
    )
    sums = pairs.groupBy("label", "i", "j").agg(
        F.sum("p").cast("double").alias("sp"),
        F.count(F.lit(1)).alias("n"),
    )
    means = (
        embs.select("label", "embedding", F.explode(F.expr("sequence(0, 63)")).alias("i"))
        .select(
            "label", "i",
            F.expr(
                "CAST((sign(CAST(embedding[i] AS DOUBLE)) * floor(abs(CAST(embedding[i] AS DOUBLE)) * 1e12 + 0.5) / 1e12) AS DECIMAL(28, 12))"
            ).alias("x"),
        )
        .groupBy("label", "i")
        .agg(F.sum("x").cast("double").alias("sm"))
    )
    mi = means.select(
        F.col("label"), F.col("i"), F.col("sm").alias("smi")
    )
    mj = means.select(
        F.col("label"), F.col("i").alias("j"), F.col("sm").alias("smj")
    )
    return (
        sums.join(mi, ["label", "i"])
        .join(mj, ["label", "j"])
        .select(
            "label", "i", "j",
            # + 0.0 folds IEEE negative zero to +0.0: a tiny epsilon can
            # round to -0.0 in one engine and +0.0 in the other, and the
            # comparator's repr-keyed sort treats them as different rows
            (
                F.round(
                    F.col("sp") / F.col("n")
                    - (F.col("smi") / F.col("n")) * (F.col("smj") / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


_COVERAGE_ORACLE = f"""
WITH split AS (
    SELECT doc_id, text,
           CASE WHEN {_D_KEYHASH} % 100 < 90 THEN 'train'
                WHEN {_D_KEYHASH} % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
toks AS (SELECT split, {_D_TOKENS.format(col='text')} AS tk FROM split),
sh AS (SELECT split,
              list_distinct(list_transform(
                  [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                   for i in range(1, len(tk) - 1)],
                  s -> {_D_H32.format(s='s')} % {MERSENNE_P})) AS hsh
       FROM toks),
grams AS (SELECT DISTINCT split, unnest(hsh) AS h FROM sh),
tr AS (SELECT DISTINCT h FROM grams WHERE split = 'train'),
ev AS (SELECT split, h FROM grams WHERE split <> 'train')
SELECT ev.split,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered,
       round(CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS coverage
FROM ev LEFT JOIN tr USING (h)
GROUP BY 1
"""


@register("split_ngram_coverage", _COVERAGE_ORACLE, tags=["llm", "sampling"])
def q_split_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-split coverage of held-out trigrams: what fraction of the
    val/test splits' distinct 3-grams the train split has seen — the
    novelty/coverage readout paired with decontaminate (there: any
    8-gram overlap flags a doc; here: aggregate 3-gram coverage rates
    the split's health). Shape: the hash split is row-local; per-split gram
    sets are one postings aggregate; the coverage probe LEFT-joins the
    held-out grams (small side) to the train set on the gram hash."""
    from streambench_spark.llm.sampling import with_split

    docs = with_split(_docs(spark, sf_dir))
    posts = dedup.shingle_postings(
        docs.withColumn("doc_id", F.col("split")), 3
    ).withColumnRenamed("doc_id", "split")  # postings are already distinct
    tr = posts.filter(F.col("split") == "train").select("h").distinct()
    ev = posts.filter(F.col("split") != "train")
    return (
        ev.join(tr.withColumn("_hit", F.lit(1)), "h", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_covered"),
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )


def _global_cov_frame(embs: DataFrame, dp: int) -> DataFrame:
    """FULL (both triangles) global covariance matrix (i, j, a) over all
    embeddings, rounded to `dp` — the deterministic-construction shared
    by embedding_covariance (per label, upper triangle) and the PCA
    power iteration (label-free, needs A·v so both triangles)."""
    pairs = (
        embs.select("embedding", F.explode(F.expr("sequence(0, 63)")).alias("i"))
        .select("embedding", "i", F.explode(F.expr("sequence(i, 63)")).alias("j"))
        .select(
            "i", "j",
            F.expr(
                "CAST((sign(CAST(embedding[i] AS DOUBLE) "
                "* CAST(embedding[j] AS DOUBLE)) * floor(abs("
                "CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)"
                ") * 1e12 + 0.5) / 1e12) AS DECIMAL(28, 12))"
            ).alias("p"),
        )
    )
    sums = pairs.groupBy("i", "j").agg(
        F.sum("p").cast("double").alias("sp"), F.count(F.lit(1)).alias("n")
    )
    means = (
        embs.select("embedding", F.explode(F.expr("sequence(0, 63)")).alias("i"))
        .select(
            "i",
            F.expr(
                "CAST((sign(CAST(embedding[i] AS DOUBLE)) * floor(abs(CAST(embedding[i] AS DOUBLE)) * 1e12 + 0.5) / 1e12) AS DECIMAL(28, 12))"
            ).alias("x"),
        )
        .groupBy("i")
        .agg(F.sum("x").cast("double").alias("sm"))
    )
    covu = (
        sums.join(means.select("i", F.col("sm").alias("smi")), "i")
        .join(means.select(F.col("i").alias("j"), F.col("sm").alias("smj")), "j")
        .select(
            "i", "j",
            F.round(
                F.col("sp") / F.col("n")
                - (F.col("smi") / F.col("n")) * (F.col("smj") / F.col("n")),
                dp,
            ).alias("a"),
        )
    )
    return covu.unionAll(
        covu.filter(F.col("j") > F.col("i")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "a"
        )
    )


def _pca_oracle(iters: int = 6) -> str:
    cov_core = """
pairs AS (
    SELECT r1.i AS i, r2.j AS j,
           (sign(CAST(embedding[r1.i + 1] AS DOUBLE) * CAST(embedding[r2.j + 1] AS DOUBLE)) * floor(abs(CAST(embedding[r1.i + 1] AS DOUBLE) * CAST(embedding[r2.j + 1] AS DOUBLE)) * 1e12 + 0.5) / 1e12) AS p
    FROM embeddings, range(64) r1(i), range(64) r2(j)
    WHERE r2.j >= r1.i
),
sums AS (
    SELECT i, j, CAST(sum(CAST(p AS DECIMAL(28, 12))) AS DOUBLE) AS sp,
           CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1, 2
),
means AS (
    SELECT r.i AS i,
           CAST(sum(CAST((sign(CAST(embedding[r.i + 1] AS DOUBLE)) * floor(abs(CAST(embedding[r.i + 1] AS DOUBLE)) * 1e12 + 0.5) / 1e12)
                         AS DECIMAL(28, 12))) AS DOUBLE) AS sm
    FROM embeddings, range(64) r(i) GROUP BY 1
),
covu AS (
    SELECT s.i, s.j,
           round(s.sp / s.n - (mi.sm / s.n) * (mj.sm / s.n), 9) AS a
    FROM sums s
    JOIN means mi ON mi.i = s.i
    JOIN means mj ON mj.i = s.j
),
A AS (
    SELECT i, j, a FROM covu
    UNION ALL
    SELECT j AS i, i AS j, a FROM covu WHERE j > i
),
v0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS val FROM range(64) r(i))"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
w{k} AS (
    SELECT A.i AS i,
           CAST(sum(CAST((sign(A.a * v{k-1}.val) * floor(abs(A.a * v{k-1}.val) * 1e12 + 0.5) / 1e12) AS DECIMAL(30, 12)))
                AS DOUBLE) AS w
    FROM A JOIN v{k-1} ON A.j = v{k-1}.i GROUP BY 1
),
m{k} AS (SELECT max(abs(w)) AS m FROM w{k}),
v{k} AS (SELECT i, round(w / m, 9) AS val FROM w{k} CROSS JOIN m{k})""")
    return (
        "WITH " + cov_core + "," + ",".join(steps)
        + f"""
SELECT CAST(i AS BIGINT) AS dim, round(val, 6) + 0.0 AS loading,
       round((SELECT m FROM m{iters}), 4) AS eigenvalue
FROM v{iters}
"""
    )


@register("pca_top_component", _pca_oracle(6), tags=["llm", "embeddings"])
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by DISTRIBUTED
    power iteration (6 steps) over the exact covariance matrix — the
    third iterative algorithm beside connected components and PageRank,
    and the whitening/PCA primitive an embedding pipeline needs.
    Determinism at every step: mat-vec terms round to 12dp and sum as
    DECIMAL(30,12) (exact, associative — a double sum would drift with
    join order), the infinity-norm normalizer is an order-free max, and
    each iterate rounds to 9dp, so Spark and the oracle walk IDENTICAL
    vectors. Scale: A is d x d (corpus-size-independent after the one
    covariance pass), so every post-covariance frame is dimension-sized.

    r15 optimization (guide §1.2/§2.4/§5): the iteration used to run an
    eager localCheckpoint plus a separate max-aggregate broadcast per
    step — 43 jobs for 6 steps of 64-row arithmetic. The normalizer is
    now an unpartitioned window max (single reference to w, so the
    6-step lineage chains LINEARLY with no subtree duplication) and the
    whole iteration executes lazily in the one final action: 12 jobs,
    identical rows (plans/r15/pca_top_component_{before,after}.txt).
    m == 0 (all-zero covariance: identical or single vectors) still
    yields NULL like the oracle's 0/0, not an ANSI DIVIDE_BY_ZERO crash
    (the r13 fixture-fuzz guard), and NULL propagates identically."""
    from pyspark.sql import Window

    embs = _embs(spark, sf_dir)
    A = _global_cov_frame(embs, 9).localCheckpoint(eager=True)
    v = spark.range(64).select(
        F.col("id").cast("int").alias("i"), F.lit(1.0).alias("val")
    )
    w_all = Window.partitionBy()
    for _ in range(6):
        w = (
            A.join(v.select(F.col("i").alias("j"), "val"), "j")
            .select(
                "i",
                F.expr(
                    "CAST((sign(a * val) * floor(abs(a * val) * 1e12 + 0.5) / 1e12) AS DECIMAL(30, 12))"
                ).alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").cast("double").alias("w"))
        )
        m = F.max(F.abs(F.col("w"))).over(w_all)
        v = w.select(
            "i",
            F.when(m != 0, F.round(F.col("w") / m, 9)).alias("val"),
            m.alias("_m"),
        )
    return v.select(
        F.col("i").cast("long").alias("dim"),
        (F.round("val", 6) + F.lit(0.0)).alias("loading"),
        F.round("_m", 4).alias("eigenvalue"),
    )


def _pca_variance_oracle(iters: int = 6) -> str:
    base = _pca_oracle(iters)
    # reuse everything up to the final SELECT; recompute the final pieces
    head = base[: base.rindex("SELECT CAST(i AS BIGINT)")]
    return head.rstrip() + f""",
rayleigh AS (
    SELECT CAST(sum(CAST((sign(A.a * vi.val * vj.val) * floor(abs(A.a * vi.val * vj.val) * 1e12 + 0.5) / 1e12)
                         AS DECIMAL(30, 12))) AS DOUBLE) AS vav
    FROM A
    JOIN v{iters} vi ON vi.i = A.i
    JOIN v{iters} vj ON vj.i = A.j
),
vnorm AS (
    SELECT CAST(sum(CAST((sign(val * val) * floor(abs(val * val) * 1e12 + 0.5) / 1e12) AS DECIMAL(30, 12)))
                AS DOUBLE) AS vv
    FROM v{iters}
),
tr AS (SELECT CAST(sum(CAST(a AS DECIMAL(28, 9))) AS DOUBLE) AS trace
       FROM covu WHERE i = j)
SELECT round(vav / vv, 4) AS lambda1,
       round(trace, 4) AS total_variance,
       round((vav / vv) / trace, 6) AS variance_explained
FROM rayleigh CROSS JOIN vnorm CROSS JOIN tr
"""


@register(
    "pca_variance_explained", _pca_variance_oracle(6), tags=["llm", "embeddings"]
)
def q_pca_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the embedding corpus the top component captures:
    Rayleigh quotient v'Av / v'v of the power-iteration vector over the
    trace of the covariance (total variance). Same determinism ledger as
    pca_top_component — decimal sums of 12dp-rounded products — plus the
    trace, which is a 64-term exact-rounded sum. One extra d^2-row join
    after the iteration; nothing corpus-sized.

    r15 optimization: same lazy-chained iteration as pca_top_component
    (window-max normalizer, no per-step eager checkpoint — 48 jobs down
    to ~14, identical rows); only the FINAL iterate is checkpointed
    once, because the Rayleigh numerator references it twice (vi, vj)
    and the norm a third time — without that one materialization the
    6-step subtree would execute three times in the final action. The
    m == 0 guard (r13 fixture-fuzz find) is unchanged: a zero norm
    yields NULL like the oracle's 0/0 and propagates identically."""
    from pyspark.sql import Window

    embs = _embs(spark, sf_dir)
    A = _global_cov_frame(embs, 9).localCheckpoint(eager=True)
    v = spark.range(64).select(
        F.col("id").cast("int").alias("i"), F.lit(1.0).alias("val")
    )
    w_all = Window.partitionBy()
    for _ in range(6):
        w = (
            A.join(v.select(F.col("i").alias("j"), "val"), "j")
            .select(
                "i",
                F.expr("CAST((sign(a * val) * floor(abs(a * val) * 1e12 + 0.5) / 1e12) AS DECIMAL(30, 12))").alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").cast("double").alias("w"))
        )
        m = F.max(F.abs(F.col("w"))).over(w_all)
        v = w.select(
            "i",
            F.when(m != 0, F.round(F.col("w") / m, 9)).alias("val"),
        )
    v = v.localCheckpoint(eager=True)
    vav = (
        A.join(v.select(F.col("i"), F.col("val").alias("vi")), "i")
        .join(v.select(F.col("i").alias("j"), F.col("val").alias("vj")), "j")
        .agg(
            F.sum(
                F.expr("CAST((sign(a * vi * vj) * floor(abs(a * vi * vj) * 1e12 + 0.5) / 1e12) AS DECIMAL(30, 12))")
            )
            .cast("double")
            .alias("vav")
        )
    )
    vv = v.agg(
        F.sum(F.expr("CAST((sign(val * val) * floor(abs(val * val) * 1e12 + 0.5) / 1e12) AS DECIMAL(30, 12))"))
        .cast("double")
        .alias("vv")
    )
    # decimal trace sum: a plain double sum of the 64 diagonal values is
    # order-dependent (partial aggregation order differs per run/engine)
    tr = (
        A.filter(F.col("i") == F.col("j"))
        .agg(F.sum(F.expr("CAST(a AS DECIMAL(28, 9))")).cast("double").alias("trace"))
    )
    return (
        vav.crossJoin(F.broadcast(vv))
        .crossJoin(F.broadcast(tr))
        .select(
            F.round(F.col("vav") / F.col("vv"), 4).alias("lambda1"),
            F.round(F.col("trace"), 4).alias("total_variance"),
            F.round((F.col("vav") / F.col("vv")) / F.col("trace"), 6).alias(
                "variance_explained"
            ),
        )
    )


_CENTROID_ORACLE = """
WITH x AS (
    SELECT label, r.i AS dim,
           (sign(CAST(embedding[r.i + 1] AS DOUBLE)) * floor(abs(CAST(embedding[r.i + 1] AS DOUBLE)) * 1e12 + 0.5) / 1e12) AS v
    FROM embeddings, range(64) r(i)
)
SELECT label, dim,
       round(CAST(sum(CAST(v AS DECIMAL(28, 12))) AS DOUBLE) / count(*), 6)
           + 0.0 AS centroid
FROM x GROUP BY 1, 2
"""


@register("embedding_centroids", _CENTROID_ORACLE, tags=["llm", "embeddings"])
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (the k-means/classification prototype
    table): per-dimension means via 12dp-rounded DECIMAL sums — exact
    and associative, so any partitioning matches the oracle. The dim
    explode is the cheap-index generator; shuffle keys are
    (label, dim) = k*d rows regardless of corpus size."""
    embs = _embs(spark, sf_dir)
    x = embs.select(
        "label", F.explode(F.expr("sequence(0, 63)")).alias("dim"),
        F.col("embedding"),
    ).select(
        "label", "dim",
        F.expr(
            "CAST((sign(CAST(embedding[dim] AS DOUBLE)) * floor(abs(CAST(embedding[dim] AS DOUBLE)) * 1e12 + 0.5) / 1e12) AS DECIMAL(28, 12))"
        ).alias("v"),
    )
    return x.groupBy("label", "dim").agg(
        (
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6)
            + F.lit(0.0)
        ).alias("centroid")
    )


_KMEANS_ORACLE = """
WITH cent AS (
    SELECT label AS c, r.i AS dim,
           round(CAST(sum(CAST((sign(CAST(embedding[r.i + 1] AS DOUBLE)) * floor(abs(CAST(embedding[r.i + 1] AS DOUBLE)) * 1e12 + 0.5) / 1e12)
                              AS DECIMAL(28, 12))) AS DOUBLE) / count(*), 9)
               AS m
    FROM embeddings, range(64) r(i) GROUP BY 1, 2
),
x AS (
    SELECT vec_id, label, r.i AS dim,
           (sign(CAST(embedding[r.i + 1] AS DOUBLE)) * floor(abs(CAST(embedding[r.i + 1] AS DOUBLE)) * 1e12 + 0.5) / 1e12) AS v
    FROM embeddings, range(64) r(i)
),
d AS (
    SELECT x.vec_id, x.label, cent.c,
           CAST(sum(CAST(round((x.v - cent.m) * (x.v - cent.m), 9)
                         AS DECIMAL(30, 9))) AS DOUBLE) AS dist
    FROM x JOIN cent ON cent.dim = x.dim
    GROUP BY 1, 2, 3
),
best AS (
    SELECT vec_id, label, c AS assigned,
           row_number() OVER (
               PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
    FROM d
)
SELECT label, assigned, CAST(count(*) AS BIGINT) AS n
FROM best WHERE rn = 1 GROUP BY 1, 2
"""


@register("kmeans_assign_step", _KMEANS_ORACLE, tags=["llm", "embeddings"])
def q_kmeans_assign_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step, label-seeded: every vector goes to
    its nearest per-label centroid, reported as the (true label,
    assigned) confusion counts — the clustering primitive plus an
    intrinsic embedding-quality readout (diagonal mass = labels are
    geometrically coherent). Distances sum 9dp-rounded squared terms as
    DECIMAL(30,9): exact, associative, tie-broken by centroid id, so
    the argmin can never flip between engines. This relational spelling
    explodes dims x k per row (fine at bench scale, transparent to the
    oracle); the 100 TB path is the BLAS batch in similarity.py's
    applyInPandas — same assignments, opaque to SQL.

    r15: argmin via min(struct(dist, c)) hash aggregate instead of a
    row_number window — lexicographic struct order IS the window's
    ORDER BY dist ASC, c ASC (dist never NULL/NaN), and the aggregate
    partial-combines map-side where the window had to shuffle-and-sort
    the corpus-sized distance frame (guide §2.3)."""
    embs = _embs(spark, sf_dir)
    xall = embs.select(
        "vec_id", "label", F.explode(F.expr("sequence(0, 63)")).alias("dim"),
        F.col("embedding"),
    ).select(
        "vec_id", "label", "dim",
        F.expr(
            "(sign(CAST(embedding[dim] AS DOUBLE)) * floor(abs(CAST(embedding[dim] AS DOUBLE)) * 1e12 + 0.5) / 1e12)"
        ).alias("v"),
    )
    cent = (
        xall.select("label", "dim",
                    F.expr("CAST(v AS DECIMAL(28, 12))").alias("vd"))
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum("vd").cast("double") / F.count(F.lit(1)), 9
            ).alias("m")
        )
        .select(F.col("label").alias("c"), "dim", "m")
    )
    d = (
        xall.join(F.broadcast(cent), "dim")
        .select(
            "vec_id", "label", "c",
            F.expr(
                "CAST(round((v - m) * (v - m), 9) AS DECIMAL(30, 9))"
            ).alias("t"),
        )
        .groupBy("vec_id", "label", "c")
        .agg(F.sum("t").cast("double").alias("dist"))
    )
    # label is constant per vec_id, so grouping on (vec_id, label) is
    # per-vector granularity; min(struct) = the window's ORDER BY
    # dist ASC, c ASC winner (r15: hash aggregate with map-side partials
    # instead of a corpus-sized shuffle-and-sort window — guide §2.3)
    best = (
        d.groupBy("vec_id", "label")
        .agg(F.min(F.struct("dist", "c")).alias("_best"))
        .select("label", F.col("_best.c").alias("c"))
    )
    return best.groupBy("label", F.col("c").alias("assigned")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _kmeans_iter_oracle() -> str:
    x = """
x AS (
    SELECT vec_id, label, r.i AS dim,
           (sign(CAST(embedding[r.i + 1] AS DOUBLE)) * floor(abs(CAST(embedding[r.i + 1] AS DOUBLE)) * 1e12 + 0.5) / 1e12) AS v
    FROM embeddings, range(64) r(i)
)"""

    def assign(cent: str, name: str) -> str:
        return f"""
d_{name} AS (
    SELECT x.vec_id, {cent}.c,
           CAST(sum(CAST(round((x.v - {cent}.m) * (x.v - {cent}.m), 9)
                         AS DECIMAL(30, 9))) AS DOUBLE) AS dist
    FROM x JOIN {cent} ON {cent}.dim = x.dim
    GROUP BY 1, 2
),
{name} AS (
    SELECT vec_id, c, dist FROM (
        SELECT vec_id, c, dist,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
        FROM d_{name}
    ) WHERE rn = 1
)"""

    def update(assign_name: str, cent_name: str) -> str:
        return f"""
{cent_name} AS (
    SELECT a.c, x.dim,
           round(CAST(sum(CAST(x.v AS DECIMAL(28, 12))) AS DOUBLE)
                 / count(*), 9) AS m
    FROM x JOIN {assign_name} a ON a.vec_id = x.vec_id
    GROUP BY 1, 2
)"""

    return f"""
WITH {x},
cent0 AS (
    SELECT label AS c, dim,
           round(CAST(sum(CAST(v AS DECIMAL(28, 12))) AS DOUBLE) / count(*), 9)
               AS m
    FROM x GROUP BY 1, 2
),{assign("cent0", "a1")},{update("a1", "cent1")},{assign("cent1", "a2")}
SELECT c AS cluster, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(round(dist, 6) AS DECIMAL(30, 6))) AS DOUBLE), 4)
           AS inertia
FROM a2 GROUP BY 1
"""


@register("kmeans_iterations", _kmeans_iter_oracle(), tags=["llm", "embeddings"])
def q_kmeans_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means loop, run distributed for two update rounds:
    label-seeded centroids → assign → recompute centroids from the
    assignments → re-assign; output per-cluster sizes and inertia. The
    fourth iterative algorithm (after CC, PageRank, PCA) — and the one
    with data-dependent control flow, since clusters can lose all
    members and drop out. Every floating step keeps the decimal ledger:
    9dp-rounded squared terms and 12dp values sum as DECIMALs, argmin
    ties break on cluster id, per-vector dists round to 6dp before the
    inertia sum — both engines walk identical assignments through both
    rounds. Frames after the explode are (k*d)- or corpus-row bounded.

    r15 optimization (guide §1.2/§2.3/§5): only the 5x-reused exploded
    frame ``x`` is checkpointed — the centroid/assignment frames each
    feed exactly one consumer, so the fixed 2-round lineage now chains
    LAZILY into the single final action instead of paying an eager
    materialization job per frame (20 → ~8 jobs, rows identical). The
    per-vector argmin is a ``min(struct(dist, c))`` hash aggregate
    (partial map-side — the corpus-sized frame never sorts) instead of
    a row_number window: lexicographic struct order IS the window's
    ORDER BY dist ASC, c ASC, so the winner (and its dist) is the same
    row; dist is never NULL/NaN (a decimal sum of squares)."""
    embs = _embs(spark, sf_dir)
    x = embs.select(
        "vec_id", F.explode(F.expr("sequence(0, 63)")).alias("dim"),
        F.col("embedding"),
    ).select(
        "vec_id", "dim",
        F.expr("(sign(CAST(embedding[dim] AS DOUBLE)) * floor(abs(CAST(embedding[dim] AS DOUBLE)) * 1e12 + 0.5) / 1e12)").alias("v"),
    ).localCheckpoint(eager=True)
    lab = embs.select("vec_id", F.col("label").alias("c"))

    def update(assign_df):
        return (
            x.join(assign_df.select("vec_id", "c"), "vec_id")
            .select(
                "c", "dim", F.expr("CAST(v AS DECIMAL(28, 12))").alias("vd")
            )
            .groupBy("c", "dim")
            .agg(
                F.round(
                    F.sum("vd").cast("double") / F.count(F.lit(1)), 9
                ).alias("m")
            )
        )

    def assign(cent_df):
        d = (
            x.join(F.broadcast(cent_df), "dim")
            .select(
                "vec_id", "c",
                F.expr(
                    "CAST(round((v - m) * (v - m), 9) AS DECIMAL(30, 9))"
                ).alias("t"),
            )
            .groupBy("vec_id", "c")
            .agg(F.sum("t").cast("double").alias("dist"))
        )
        return (
            d.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "c")).alias("_best"))
            .select("vec_id", F.col("_best.c").alias("c"),
                    F.col("_best.dist").alias("dist"))
        )

    cent0 = update(lab)
    a1 = assign(cent0)
    cent1 = update(a1)
    a2 = assign(cent1)
    return a2.groupBy(F.col("c").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.expr("CAST(round(dist, 6) AS DECIMAL(30, 6))")).cast(
                "double"
            ),
            4,
        ).alias("inertia"),
    )


_VOCAB_OVERLAP_ORACLE = f"""
WITH toks AS (
    SELECT source, {_D_TOKENS.format(col='text')} AS tk FROM documents
),
v AS (
    SELECT DISTINCT source,
           {_D_H32.format(s='w')} % {MERSENNE_P} AS h
    FROM (SELECT source, unnest(tk) AS w FROM toks)
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
inter AS (
    SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS i
    FROM v a JOIN v b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
)
SELECT sa, sb, i AS n_shared,
       round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON na.source = sa
JOIN sizes nb ON nb.source = sb
"""


@register("source_vocab_overlap", _VOCAB_OVERLAP_ORACLE, tags=["llm", "text"])
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mixture
    diagnostic (high-overlap sources are near-duplicated feeds; low
    overlap flags domain shift). Same inverted-index shape as the
    document near-dup family but keyed by SOURCE: the token self-join's
    per-token bucket is bounded by the SOURCE COUNT (~tens), not
    document count, so the quadratic term is quadratic in sources only.
    Set sizes join back on the pair ends; one float division per pair."""
    docs = _docs(spark, sf_dir)
    tk = dedup.TOKENS_EXPR.format(col="text")
    from streambench_spark.llm.hashing import spark_hash32

    h = spark_hash32("w")
    v = (
        docs.select("source", F.explode(F.expr(tk)).alias("w"))
        .select("source", F.expr(f"{h} % {MERSENNE_P}L").alias("h"))
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        v.alias("a")
        .join(v.alias("b"), F.expr("a.h = b.h AND a.source < b.source"))
        .groupBy(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    nb = sizes.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
        .select(
            "sa", "sb", "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def _training_mix_oracle(n: int = 8) -> str:
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    h = _D_H32.format(s="s")
    mix_h = _D_H32.format(s="'mix:' || CAST(doc_id AS VARCHAR)")
    rate_case = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _MIXTURE_RATES.items()
    )
    return f"""
WITH toks AS (
    SELECT doc_id, lang, source, text, length(text) AS n_chars,
           {_D_TOKENS.format(col='text')} AS tk
    FROM documents
),
kept AS (
    SELECT doc_id, lang, source, text, n_chars, tk FROM toks
    WHERE n_chars >= 100
      AND len(tk) BETWEEN 20 AND 1000
      AND len(list_distinct(tk)) * 1.0 / len(tk) >= 0.2
),
trsh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               [{grams} for i in range(1, len(tk) - {n - 2})],
               s -> {h} % {MERSENNE_P})) AS hsh
    FROM kept WHERE source <> 'src0'
),
besh AS (
    SELECT list_distinct(list_transform(
               [{grams} for i in range(1, len(tk) - {n - 2})],
               s -> {h} % {MERSENNE_P})) AS hsh
    FROM toks WHERE source = 'src0'
),
tr AS (SELECT doc_id, unnest(hsh) AS hh FROM trsh),
be AS (SELECT DISTINCT unnest(hsh) AS hh FROM besh),
contam AS (SELECT DISTINCT tr.doc_id FROM tr JOIN be USING (hh)),
clean AS (
    SELECT k.doc_id, k.lang, k.n_chars FROM kept k
    WHERE k.source <> 'src0'
      AND NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = k.doc_id)
),
train AS (SELECT * FROM clean WHERE {_D_KEYHASH} % 100 < 90),
mix AS (SELECT * FROM train WHERE {mix_h} % 100
            < CASE lang {rate_case} END)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM mix GROUP BY 1
"""


@register("training_mix_pipeline", _training_mix_oracle(8), tags=["llm", "pipeline"])
def q_training_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data assembly, composed end to end from the
    library operators: quality filter → benchmark decontamination
    (8-gram, src0 as the eval suite) → stable hash split (train) →
    SALTED per-language mixture sampling → per-language doc/char totals.
    One lazy plan: Catalyst shares the scan across stages; the corpus
    never shuffles (broadcast gram probe, row-local split and mixture
    decisions) until the final group-cardinality aggregate. The salt on
    the mixture draw matters: unsalted, it would reuse the split's
    H(doc_id) mod 100 and collapse the intersection to min(rate, 90)
    instead of an independent sub-sample of train."""
    docs = _docs(spark, sf_dir)
    kept = text.quality_kept(docs, "doc_id", "lang", "source", "text", "n_chars")
    bench = docs.filter(F.col("source") == "src0")
    cand = kept.filter(F.col("source") != "src0")
    contam = sampling.contaminated_docs(cand, bench, n=8).select("doc_id")
    clean = cand.join(contam, "doc_id", "left_anti")
    train = sampling.with_split(clean).filter(F.col("split") == "train")
    mix = sampling.stratified_rate_sample(train, _MIXTURE_RATES, salt="mix:")
    # length(text), not the STORED n_chars column: the oracle recomputes
    # length(text), and the pair must stay symmetric even on a corpus
    # whose stored n_chars has drifted from the text
    return mix.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


_HAPAX_ORACLE = f"""
WITH toks AS (
    SELECT source, unnest({_D_TOKENS.format(col='text')}) AS w FROM documents
),
tf AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_ratio
FROM tf GROUP BY 1
"""


@register("hapax_ratio_by_source", _HAPAX_ORACLE, tags=["llm", "text"])
def q_hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per source: the hapax-legomenon share (tokens
    occurring exactly once) of each source's vocabulary — high ratios
    flag noisy/OCR feeds, low ones boilerplate mills. One token
    aggregate keyed on (source, token) with map-side combine, then a
    source-cardinality rollup."""
    docs = _docs(spark, sf_dir)
    tk = dedup.TOKENS_EXPR.format(col="text")
    tf = (
        docs.select("source", F.explode(F.expr(tk)).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).alias("hapax"),
        F.round(
            F.sum((F.col("c") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )


_DISPERSION_ORACLE = f"""
WITH tf AS (
    SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT doc_id, unnest({_D_TOKENS.format(col='text')}) AS w
          FROM documents)
    GROUP BY 1, 2
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
s AS (
    SELECT w, CAST(sum(c) AS BIGINT) AS tot,
           CAST(sum(c * c) AS BIGINT) AS ss,
           CAST(count(*) AS BIGINT) AS df
    FROM tf GROUP BY 1
),
top AS (
    SELECT w, tot, ss, df FROM s
    ORDER BY tot DESC, w ASC LIMIT 20
)
SELECT w AS token, tot AS n_occurrences, df AS n_docs,
       round((CAST(ss AS DOUBLE) / (SELECT n FROM nd)
              - pow(CAST(tot AS DOUBLE) / (SELECT n FROM nd), 2))
             / (CAST(tot AS DOUBLE) / (SELECT n FROM nd)), 6) AS vmr
FROM top
"""


@register("token_dispersion", _DISPERSION_ORACLE, tags=["llm", "text"])
def q_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of the top-20 corpus tokens: variance-to-mean ratio of
    per-document counts (Poisson scatter ~= 1; topical/bursty tokens
    well above — the Church-Gale dispersion signal separating function
    words from content words). Per-token sums are exact integers off
    one (doc, token) aggregate; the top-20 selection tie-breaks on the
    token itself."""
    docs = _docs(spark, sf_dir)
    tk = dedup.TOKENS_EXPR.format(col="text")
    tf = (
        docs.select("doc_id", F.explode(F.expr(tk)).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    s = tf.groupBy("w").agg(
        F.sum("c").alias("tot"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.count(F.lit(1)).alias("df"),
    )
    top = s.orderBy(F.desc("tot"), F.asc("w")).limit(20)
    mean = F.col("tot").cast("double") / F.col("n")
    return top.crossJoin(F.broadcast(nd)).select(
        F.col("w").alias("token"),
        F.col("tot").alias("n_occurrences"),
        F.col("df").alias("n_docs"),
        F.round(
            (F.col("ss").cast("double") / F.col("n") - mean * mean) / mean, 6
        ).alias("vmr"),
    )


_ZIPF_ORACLE = f"""
WITH tf AS (
    SELECT w, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest({_D_TOKENS.format(col='text')}) AS w FROM documents)
    GROUP BY 1
),
top AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS rk
    FROM tf ORDER BY c DESC, w ASC LIMIT 100
),
terms AS (
    SELECT rk, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
    FROM top
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(x ORDER BY rk)), (a, v) -> a + v) AS sx,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(y ORDER BY rk)), (a, v) -> a + v) AS sy,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(x * x ORDER BY rk)), (a, v) -> a + v) AS sxx,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(x * y ORDER BY rk)), (a, v) -> a + v) AS sxy
    FROM terms
)
SELECT n AS n_tokens,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
           AS intercept
FROM s
"""


@register("zipf_slope", _ZIPF_ORACLE, tags=["llm", "text"])
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-100 token frequencies: the OLS slope
    of ln(freq) on ln(rank) — natural corpora sit near -1; synthetic or
    templated text drifts shallow (this corpus reports its own
    deviation). Each (x, y) term is a pure function of exact counts and
    a deterministic rank; the four float sums are rank-ordered folds,
    so both engines fit the identical line. One token aggregate, a
    100-row TopK, a 1-row result."""
    docs = _docs(spark, sf_dir)
    tk = dedup.TOKENS_EXPR.format(col="text")
    tf = (
        docs.select(F.explode(F.expr(tk)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    top = (
        tf.orderBy(F.desc("c"), F.asc("w"))
        .limit(100)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w"))),
        )
    )
    terms = top.select(
        "rk",
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    folds = terms.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(
                f"aggregate(transform(array_sort(collect_list("
                f"struct(rk, {expr}))), t -> t.col2), CAST(0 AS DOUBLE), "
                f"(a, v) -> a + v)"
            ).alias(name)
            for name, expr in [
                ("sx", "x AS col2"),
                ("sy", "y AS col2"),
                ("sxx", "x * x AS col2"),
                ("sxy", "x * y AS col2"),
            ]
        ],
    )
    n, sx, sy, sxx, sxy = (
        F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("sxy")
    )
    # A vocabulary with a single distinct token (n == 1: x = ln(1) = 0)
    # zeroes the ln(rank) variance denominator — DuckDB's double 0/0 is
    # NULL, unguarded ANSI Spark raises (r14 fixture-fuzz sweep find).
    # For n == 1 the subtraction is the exact same IEEE product on both
    # sides (1·x² - x·x), so denom == 0 is hit identically; denom != 0
    # implies n >= 2, making the intercept's /n safe under one guard,
    # and its NULL propagates exactly like the oracle's NULL-slope
    # arithmetic.
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    return folds.select(
        n.alias("n_tokens"),
        F.when(denom != 0, F.round(slope, 6)).alias("zipf_slope"),
        F.when(denom != 0, F.round((sy - slope * sx) / n, 6)).alias("intercept"),
    )
