"""Cross-engine deterministic text hashing (shingles, MinHash, SimHash).

Built-in hash functions differ between engines (Spark xxhash64/murmur3 vs
DuckDB's hash), so oracle-checkable dedup needs hashes defined by plain
64-bit integer arithmetic that both Spark expressions and DuckDB SQL compute
identically:

    shingle hash:  h(s) = ( Σ_j code(s[j]) · 31^(K-1-j) ) mod P      (K=8)
    minhash_i:     min over shingles of (a_i·h + b_i) mod P
    simhash bit j: sign of Σ over shingles of (2·((h >> j) & 1) − 1)

P = 1e9+7 keeps every intermediate < 2^63 (codes ≤ 0x10FFFF, a_i ≤ 9973).

Everything here is a *builder*: Spark-side it returns Column expressions
(JVM-evaluated, whole-stage-codegen — no Python in the hot path); oracle-side
it returns SQL fragments. Both derive from the same constants, so they cannot
drift apart.

Scale: per-row array expressions, no shuffle. MinHash signatures are tiny
(N_PERM longs/doc) — the LSH band join afterwards is the only shuffle in the
dedup pipeline (see operators/dedup.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

P = 1_000_000_007
K = 8  # shingle width (characters)
COEF = [pow(31, K - 1 - j, P) for j in range(K)]

# MinHash permutation parameters (fixed small primes; a_i·h < 1e13 << 2^63).
MINHASH_A = [4973, 6203, 7369, 8539, 9973, 5647, 7187, 8867,
             5323, 6701, 7919, 9311, 5059, 6481, 7759, 9127]
MINHASH_B = [911, 1723, 2617, 3469, 4397, 1303, 2141, 3041,
             1013, 1861, 2767, 3673, 1117, 1987, 2897, 3833]
N_PERM = len(MINHASH_A)
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS

SIMHASH_BITS = 32

# k-minimum-values sketch family — the SINGLE source for the batch KMV
# plans (plans/pipeline.py x13, plans/relational2.py x25b) and their
# oracles, which agree bit for bit because neither re-declares these.
# Affine hash h(k) = ((k mod P)·A + B) mod P with both factors reduced
# mod P first, so k up to 2^63 never overflows int64.
KMV_P = P
KMV_A = 2654435761 % KMV_P  # Knuth multiplicative constant
KMV_B = 1723
KMV_K = 64

# AMS F2 sign-hash family (Alon–Matias–Szegedy '96) — the SINGLE source
# for the batch second-moment sketch (plans/pipeline.py x27) and its
# oracle, the same one-declaration discipline as the KMV block above.
# s_i(key) = 1 - 2·((key·A_i + B_i) mod P mod 2) ∈ {±1}.
AMS_D = 8
AMS_A = [4973, 6203, 7369, 8539, 9679, 10837, 11953, 13147]
AMS_B = [911, 1723, 2617, 3469, 4397, 5281, 6133, 7027]
AMS_P = P


# ---------------------------------------------------------------------------
# Spark expression builders
# ---------------------------------------------------------------------------
# round 12 (guide §7.3 — planning cost): the expression builders below
# are parsed SQL strings, not py4j Column chains.  The Column forms cost
# real driver time PER QUERY CONSTRUCTION (measured: minhash_signature
# 168 ms, shingle_hashes 115 ms, simhash 870-1780 ms — re-paid on every
# bench run by ~27 queries); the parsed trees lower to the identical
# long arithmetic, so every output is bit-identical.  Inputs are SQL
# fragments, matching the sql_* oracle twins' calling convention.
# Callers pass a cheap column reference, not an expression: each
# fragment is interpolated unparenthesized and repeated (char_codes
# twice, shingle_hashes K times), so an expression would be evaluated
# once per repetition per element, and a malformed fragment fails only
# when the whole string is parsed.


def char_codes(text_sql: str) -> Column:
    """array<int> of per-character code points (1-based positions)."""
    return F.expr(
        f"transform(sequence(1, length({text_sql})), "
        f"i -> ascii(substring({text_sql}, i, 1)))"
    )


def shingle_hashes(codes_sql: str, len_sql: str) -> Column:
    """array<long> of K-gram polynomial hashes over a code-point array.

    Caller must guarantee the length expression >= K (filter first).
    """
    terms = " + ".join(
        f"CAST(element_at({codes_sql}, CAST(i + {j} AS INT)) AS BIGINT)"
        f" * {COEF[j]}"
        for j in range(K)
    )
    return F.expr(
        f"transform(sequence(1, ({len_sql}) - {K - 1}), "
        f"i -> ({terms}) % {P})"
    )


def coef_for(width: int) -> list[int]:
    """Polynomial-hash coefficients for a `width`-character shingle."""
    return [pow(31, width - 1 - j, P) for j in range(width)]


def shingle_hash_at(text: Column, pos: Column, width: int = K) -> Column:
    """`width`-gram polynomial hash of ``text[pos .. pos+width-1]`` (1-based).

    The explode-per-position twin of :func:`shingle_hashes`: when shingles
    are needed as ROWS (equi-join probes) rather than an array column,
    compute the hash from direct ``substr`` terms AFTER the position
    explode. Nesting the array form under a Generate makes Catalyst inline
    the char-codes transform into every ``element_at``, which then
    evaluates interpreted and quadratic per document; this form stays
    whole-stage-codegen and linear in document length.
    """
    coef = coef_for(width)
    terms = [
        F.ascii(text.substr(pos + F.lit(j), F.lit(1))).cast("long") * F.lit(coef[j])
        for j in range(width)
    ]
    return reduce(lambda a, b: a + b, terms) % F.lit(P)


def minhash_signature(hashes_sql: str) -> Column:
    """array<long> MinHash signature (N_PERM permutations)."""
    sigs = ", ".join(
        f"array_min(transform({hashes_sql}, x -> ({a} * x + {b}) % {P}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return F.expr(f"array({sigs})")


def band_keys(sig_sql: str) -> Column:
    """array<string>: one concatenated key per LSH band."""
    keys = []
    for band in range(N_BANDS):
        parts = ", ".join(
            f"CAST(element_at({sig_sql}, {band * ROWS_PER_BAND + r + 1}) AS STRING)"
            for r in range(ROWS_PER_BAND)
        )
        keys.append(f"concat_ws('-', {parts})")
    return F.expr(f"array({', '.join(keys)})")


def simhash(hashes_col: str, bits: int = SIMHASH_BITS) -> Column:
    """`bits`-wide SimHash of a shingle-hash array COLUMN (by name), as a
    long (bits <= 62).

    Bit j is 1 iff strictly more than half the shingles have bit j set.
    Bits above 29 fold the 30-bit-entropy shingle hash (h < P < 2^30) by
    re-mixing: bit j for j >= 30 uses ((h * (j+1)) % P) bit (j % 30), so
    every output bit still carries signal. Implemented as `bits`
    array-aggregate expressions — fine for one codegen stage; at extreme
    doc sizes switch to explode + groupBy (same result). (A packed
    multi-lane popcount variant was benchmarked at sf0.1 AND at the 10x
    probe corpus and is NOT faster either place — SCALING.md round-12;
    the per-element lane arithmetic costs what the extra aggregate
    passes cost.  Do NOT explode the inline shingle array instead:
    Catalyst inlines the generator into per-output-row evaluation — the
    documented shingle_hash_at quadratic pathology.)

    round 12 (guide §7.3 — planning cost): built as ONE parsed SQL
    expression instead of ~900 py4j Column calls; constructing the
    32-bit form cost 870 ms of driver time PER QUERY BUILD (1.78 s for
    t06's 60-bit form, re-paid on every bench run), which dwarfed the
    queries' own execution.  The parsed tree lowers to the identical
    long arithmetic (shiftright/&/%/aggregate), so outputs are
    bit-identical.
    """

    def bit_src(j: int) -> str:
        if j < 30:
            return f"(shiftright(x, {j}) & 1)"
        return f"(shiftright((x * {j + 1}) % {P}, {j % 30}) & 1)"

    n = f"CAST(size({hashes_col}) AS BIGINT)"
    terms = " + ".join(
        f"(CASE WHEN 2 * aggregate({hashes_col}, CAST(0 AS BIGINT), "
        f"(acc, x) -> acc + {bit_src(j)}) > {n} "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return F.expr(f"({terms})").alias("simhash")


# ---------------------------------------------------------------------------
# DuckDB SQL fragment builders (the oracle twins of the above)
# ---------------------------------------------------------------------------
def sql_char_codes(text_expr: str) -> str:
    return (
        f"list_transform(range(1, length({text_expr}) + 1), "
        f"i -> unicode(substr({text_expr}, i, 1)))"
    )


def sql_shingle_hashes(codes_expr: str, text_expr: str, width: int = K) -> str:
    coef = coef_for(width)
    terms = " + ".join(
        f"CAST({codes_expr}[i + {j}] AS BIGINT) * {coef[j]}" for j in range(width)
    )
    return (
        f"list_transform(range(1, length({text_expr}) - {width - 2}), "
        f"i -> CAST(({terms}) % {P} AS BIGINT))"
    )


def sql_minhash_signature(hashes_expr: str) -> str:
    sigs = ", ".join(
        f"list_min(list_transform({hashes_expr}, x -> ({a} * x + {b}) % {P}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return f"[{sigs}]"


def sql_band_key(sig_expr: str, band: int) -> str:
    parts = " || '-' || ".join(
        f"CAST({sig_expr}[{band * ROWS_PER_BAND + r + 1}] AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    )
    return parts


def sql_simhash(hashes_expr: str, bits: int = SIMHASH_BITS) -> str:
    def bit_src(j: int) -> str:
        if j < 30:
            return f"(x >> {j}) & 1"
        return f"(((x * {j + 1}) % {P}) >> {j % 30}) & 1"

    terms = " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform({hashes_expr}, x -> {bit_src(j)})) "
        f"> len({hashes_expr}) THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"({terms})"
