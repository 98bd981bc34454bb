"""Engine-stable hashing column expressions.

Everything here is built from ``md5`` so the exact same integer values
are reproducible in any engine with an md5 function (the DuckDB oracle,
a different Spark version, a future Flink port). Spark's builtin
``hash``/``xxhash64`` are murmur3/xxhash-specific and would make the
correctness oracle engine-dependent — they are deliberately not used
for semantics-bearing hashes (they remain fine for salting/bucketing).

All arithmetic stays within safe signed-64-bit bounds so the
expressions work under Spark ANSI mode (no overflow errors).

Reference parity: the reference fingerprints rows and titles with md5
(`Data_Cleaning/strict_deduplication.py:40`,
`Data_Analysis/provenance_compliance.py:91-102`); MinHash/SimHash are
the scale-path generalizations of its O(n^2) title-similarity dedup
(`strict_deduplication.py:48-76`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Large prime < 2^31 used for polynomial rolling hashes.
ROLLING_PRIME = 1_000_000_007

EMPTY_MINHASH = 2**32  # larger than any real 32-bit hash


def md5_hex(col: Column) -> Column:
    """md5 hex digest of a string column (matches DuckDB ``md5``)."""
    return F.md5(col.cast("binary"))


def stable_hash32(col: Column, seed: int = 0) -> Column:
    """Deterministic 32-bit hash of a string as BIGINT in [0, 2^32)."""
    salted = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(md5_hex(salted), 1, 8), 16, 10).cast("bigint")


def stable_hash32_sql(expr: str, seed: int = 0) -> str:
    """DuckDB SQL twin of :func:`stable_hash32` over expression ``expr``."""
    return (
        f"CAST(('0x' || substring(md5('{seed}:' || ({expr})), 1, 8)) AS UBIGINT)::BIGINT"
    )


def stable_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash (15 hex chars) — used for SimHash bits.

    60 bits keeps the value comfortably inside a signed 64-bit integer
    in both engines (no unsigned-cast edge cases).
    """
    return F.conv(F.substring(md5_hex(col), 1, 15), 16, 10).cast("bigint")


def stable_hash60_sql(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS UBIGINT)::BIGINT"


# MinHash: each token is md5-hashed ONCE (stable_hash32); the i-th
# signature component applies a cheap affine mix (a_i*h + b_i) mod p —
# the classic universal-hash family. 16x fewer md5 calls than hashing
# per (seed, token), identical engine-stability.
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def _mix_consts(i: int) -> tuple[int, int]:
    return 2 * i + 1, 97 + 31 * i


def minhash_value(tokens: Column, seed: int) -> Column:
    """min over tokens of mix_seed(stable_hash32(token)); empty-safe.

    Empty docs get a sentinel above every real hash so they never
    collide with content.
    """
    a, b = _mix_consts(seed)
    hashed = F.transform(
        tokens, lambda t: (stable_hash32(t) * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)
    )
    return F.coalesce(F.array_min(hashed), F.lit(EMPTY_MINHASH + seed)).cast("bigint")


def minhash_signature_sql(hashes_expr: str, num_hashes: int) -> str:
    """DuckDB MinHash signature (the ``_s0.._sN`` minima of
    ``operators.dedup.minhash_grouped``) where ``hashes_expr`` is a list
    of stable_hash32 values."""
    comps = []
    for i in range(num_hashes):
        a, b = _mix_consts(i)
        comps.append(
            f"coalesce(list_min(list_transform({hashes_expr}, "
            f"_h -> (_h * {a} + {b}) % {MINHASH_PRIME})), {EMPTY_MINHASH + i})"
        )
    return "[" + ", ".join(comps) + "]"


def token_hashes32_sql(tokens_expr: str) -> str:
    """DuckDB: list of stable_hash32 values for a token list."""
    tok_hash = "CAST(('0x' || substring(md5('0:' || _t), 1, 8)) AS UBIGINT)::BIGINT"
    return f"list_transform({tokens_expr}, _t -> {tok_hash})"


def simhash60(tokens: Column) -> Column:
    """60-bit SimHash over a token array.

    Classic SimHash: for each bit position, sum +1/-1 votes from every
    token's hash bit; the output bit is 1 where the vote is positive.
    Pure SQL expressions (no UDF) so it stays in whole-stage codegen.
    """
    hashes = F.transform(tokens, lambda t: stable_hash60(t))

    def bit_vote(j: int) -> Column:
        # votes in [-len, +len], far from overflow
        return F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + (F.shiftright(h, j) % 2) * 2 - 1,
        )

    out = F.lit(0).cast("bigint")
    for j in range(60):
        out = out + F.when(bit_vote(j) > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def token_hashes60_sql(tokens_expr: str) -> str:
    """DuckDB: list of 60-bit token hashes (input to SimHash votes)."""
    tok_hash = "CAST(('0x' || substring(md5(_t), 1, 15)) AS UBIGINT)::BIGINT"
    return f"list_transform({tokens_expr}, _t -> {tok_hash})"


def simhash60_from_hashes(hashes: Column) -> Column:
    """SimHash votes over a pre-materialized array of 60-bit hashes."""

    def bit_vote(j: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + (F.shiftright(h, j) % 2) * 2 - 1,
        )

    out = F.lit(0).cast("bigint")
    for j in range(60):
        out = out + F.when(bit_vote(j) > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def simhash60_sql_from_hashes(hashes_expr: str) -> str:
    """DuckDB SQL twin of :func:`simhash60_from_hashes`.

    Use with a CTE that materializes :func:`token_hashes60_sql` once —
    inlining the hash list into all 60 vote terms would recompute the
    md5s per bit.
    """
    terms = []
    for j in range(60):
        vote = f"list_sum(list_transform({hashes_expr}, _h -> ((_h >> {j}) % 2) * 2 - 1))"
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2**j}::BIGINT ELSE 0::BIGINT END)")
    return "(" + " + ".join(terms) + ")"


def hamming60(a: Column, b: Column) -> Column:
    """Hamming distance between two 60-bit hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def rolling_token_hash(tokens: Column) -> Column:
    """Polynomial rolling hash of a token sequence mod a prime.

    h = fold(tokens, 0, (acc, t) -> (acc * 131 + stable_hash32(t)) % P).
    Order-sensitive (unlike MinHash) — a document *fingerprint*.
    Safe under ANSI: acc < P < 2^31, so acc*131 + 2^32 < 2^63.
    """
    return F.aggregate(
        F.transform(tokens, lambda t: stable_hash32(t)),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 131 + h) % ROLLING_PRIME,
    )


def rolling_token_hash_sql(tokens_expr: str) -> str:
    tok_hash = f"CAST(('0x' || substring(md5('0:' || _t), 1, 8)) AS UBIGINT)::BIGINT"
    hashes = f"list_transform({tokens_expr}, _t -> {tok_hash})"
    return (
        f"list_reduce(list_prepend(0::BIGINT, {hashes}), "
        f"(_acc, _h) -> (_acc * 131 + _h) % {ROLLING_PRIME})"
    )
