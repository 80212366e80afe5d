"""Portable deterministic hashing shared by the LLM operators.

Spark's builtin ``hash()``/``xxhash64()`` are fast but engine-specific; the
correctness oracles re-run every pipeline in DuckDB, so the token/shingle
hash must produce identical values in both engines. We use the first 8 hex
chars of md5 as a 32-bit hash — md5 is bit-identical everywhere, and the
hex-prefix → integer conversion exists as a builtin in both engines:

- Spark SQL : ``CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)``
- DuckDB    : ``CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)``

At 100 TB one swaps in ``hash_mode="xxhash64"`` (Spark's builtin
xxHash64 — one JVM-side integer kernel instead of a full md5 digest +
hex/conv chain): the sketch/minhash/sampling builders thread the mode
through every hash site, and both modes emit values in the same
``[0, 2^32)`` domain so all downstream modular arithmetic (``% P`` in
signed 64-bit) is overflow-safe in either mode. md5 stays the default
because it is oracle-checkable — DuckDB has no xxhash64 builtin, so
xxhash64-mode results are verified by property tests (dedup invariants,
Bloom FP bounds, split proportions — tests/test_hash_modes.py) and a
per-row cost measurement (the r08 local[32] hash-mode record in
SCALE.md's "Plan-sensitivity probe" section), not by the SQL oracles.

MinHash coefficients are derived from a fixed LCG so both the Spark plan
builder and the SQL oracle embed the *same* literals.
"""

from __future__ import annotations

# Modulus for minhash permutations: 2^31 - 1 (Mersenne prime). Keeping
# a < 2^31 and the reduced hash < 2^31 bounds a*h < 2^62, safe in signed
# 64-bit in both engines (DuckDB raises on BIGINT overflow rather than
# wrapping).
MERSENNE_P = 2_147_483_647

HASH_MODES = ("md5", "xxhash64")


def locale_free_lower_sql(col: str) -> str:
    """Spark SQL fragment: lowercase ``col`` independently of the JVM
    default locale.

    Spark's plain ``lower()`` takes a byte-level fast path on all-ASCII
    strings but falls back to ``String.toLowerCase()`` — the JVM
    DEFAULT locale — whenever the string contains any non-ASCII byte:
    under a Turkish/Azerbaijani host locale ``lower('CAFÉ IN')`` yields
    dotless ``'café ın'`` while the DuckDB oracle (and every other
    host) reads ``'café in'``. Routing through the UNICODE collation
    forces ICU root-locale lowering (probed cost-free vs plain lower at
    2M rows — the ASCII fast path survives); the outer CAST drops the
    collation again so downstream grouping / joins / hashes stay
    UTF8_BINARY (UNICODE collation would otherwise merge canonically
    equivalent strings the oracle's binary grouping keeps distinct).

    Known residue (locale-INDEPENDENT, present under every host
    locale): Spark applies full Unicode lowercasing — context-aware
    final sigma (``'ΑΣ'`` → ``'ας'``) and the ``'İ'`` → ``'i̇'``
    expansion — while DuckDB's utf8proc applies simple 1:1 folding
    (``'ασ'``, ``'i'``). Pinned in tests/test_locale_free_lower.py;
    oracle-affecting only on corpora containing those codepoints,
    which the frozen tables and fuzz fixtures do not."""
    return f"cast(lower(collate({col}, 'UNICODE')) as string)"


def spark_hash32(expr: str, mode: str = "md5") -> str:
    """Spark SQL expression: deterministic hash of string expr into
    ``[0, 2^32)``.

    ``md5`` (default): first 8 hex chars of md5 — portable, bit-identical
    in DuckDB (see duck_hash32), the oracle-checkable mode.
    ``xxhash64``: Spark's builtin xxHash64 masked to the low 32 bits —
    the same value domain, one codegen'd integer kernel per row (no
    digest, no hex round-trip), the production mode for corpus-scale
    probes where the hash dominates per-row cost."""
    if mode == "md5":
        return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
    if mode == "xxhash64":
        # & 0xFFFFFFFF keeps the value non-negative and < 2^32 — the
        # exact domain of the md5 mode, so every downstream `% P`,
        # `% width`, and `(a*h + b) % P` behaves identically.
        return f"(xxhash64({expr}) & 4294967295)"
    raise ValueError(f"unknown hash mode {mode!r}; expected one of {HASH_MODES}")


def duck_hash32(expr: str) -> str:
    """DuckDB SQL expression computing the identical 32-bit hash."""
    return f"CAST('0x' || substring(md5({expr}), 1, 8) AS BIGINT)"


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs for h_j(x) = (a_j * x + b_j) mod P.

    Derived from a constant LCG walk (deterministic, no RNG state) so the
    same literals appear in the Spark expression tree and the oracle SQL.
    a_j is forced odd and non-zero.
    """
    coeffs = []
    state = 88172645463325252  # fixed seed, xorshift-style walk
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_P - 2)) + 1
        if a % 2 == 0:
            a += 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        coeffs.append((a, b))
    return coeffs
