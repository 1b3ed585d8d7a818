"""Deterministic, engine-portable hash expressions.

Every hash here is defined in terms of ``md5`` hex strings so the SAME
value is computable in Spark SQL and in the DuckDB oracle (Spark's
native ``xxhash64``/``hash`` have no DuckDB twin). 60-bit values (15
hex chars) keep everything inside a signed BIGINT, portable to both
engines.

Used by the dedup family (MinHash-LSH, SimHash, fingerprinting) — all
pure Column expressions, no UDFs, so a 100 TB dedup run stays inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hex(c: Column | str) -> Column:
    """Lowercase hex md5 of a string column (same output as DuckDB md5)."""
    return F.md5(F.col(c) if isinstance(c, str) else c)


def hash64(c: Column | str, salt: int | None = None) -> Column:
    """Deterministic 60-bit positive hash of a string column.

    ``conv(substr(md5(salt # s), 1, 15), 16, 10)::bigint`` — DuckDB
    twin: ``('0x' || substr(md5(...), 1, 15))::BIGINT``.
    """
    c = F.col(c) if isinstance(c, str) else c
    if salt is not None:
        c = F.concat(F.lit(f"{salt}#"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# Universal-hashing parameters for MinHash permutations: one md5 per
# shingle gives a base value h in [0, MINHASH_P); permutation i is
# (A_i * h + B_i) mod P. P is prime and < 2^30, so A*h < 2^60 never
# overflows a BIGINT under ANSI arithmetic — exactly reproducible in
# the DuckDB oracle. Constants are fixed (seeded once, frozen here).
MINHASH_P = 1_000_000_007


def _minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    import random as _random

    rng = _random.Random(0xC0FFEE)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(n_hashes)
    ]


def minhash_expr(shingles: Column | str, n_hashes: int = 16) -> Column:
    """MinHash signature: ``array<bigint>`` of length ``n_hashes``.

    Two fused passes, both structurally single-evaluation: (1) one md5
    base hash per shingle (``transform`` materializes the bigint array,
    so the expensive digest is computed exactly once per element), (2)
    an ``aggregate`` fold carrying the running elementwise min of the
    ``n_hashes`` cheap affine permutations.
    """
    sh = F.col(shingles) if isinstance(shingles, str) else shingles
    params = _minhash_params(n_hashes)
    base = F.transform(sh, lambda s: hash64(s) % MINHASH_P)
    init = F.array(*[F.lit(MINHASH_P).cast("bigint") for _ in range(n_hashes)])

    def _step(acc: Column, h: Column) -> Column:
        perms = F.array(
            *[(F.lit(a).cast("bigint") * h + F.lit(b)) % MINHASH_P for a, b in params]
        )
        return F.zip_with(acc, perms, lambda m, v: F.least(m, v))

    return F.aggregate(base, init, _step)


def simhash(token_col: Column | str, bits: int = 64) -> Column:
    """Per-token SimHash contribution vector: array<int> of +1/-1 per bit.

    Sum these arrays per document (``aggregate``/groupBy), then take the
    sign per position to get the document SimHash. Bits come from the
    first 16 hex chars of md5(token) — portable to the DuckDB oracle via
    the same substring + hex-digit decomposition.
    """
    c = F.col(token_col) if isinstance(token_col, str) else token_col
    h = F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
    # 60 usable bits from 15 hex chars; cap `bits` accordingly.
    n = min(bits, 60)
    return F.array(
        *[
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
            for b in range(n)
        ]
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed bigint hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_doc(token_col: Column, bits: int = 60) -> Column:
    """Packed 60-bit document SimHash from a token array column.

    One fused fold, no explode/shuffle. Per-bit set-counts are packed
    3-per-BIGINT (21-bit counters — safe to ~2M tokens per document),
    so the hot loop is pure integer arithmetic on scalars instead of a
    60-wide array zip. Bit b of the result is set iff
    count_b·2 > n_tokens, identical to the ±1-sum formulation
    (ties → 0). Token multiplicity counts (standard SimHash weights by
    occurrence).
    """
    n = min(bits, 60)
    per = 3  # counters per accumulator
    width = 21  # bits per counter; 3 × 21 = 63 fits a signed BIGINT
    n_acc = (n + per - 1) // per
    zeros = F.struct(
        *[F.lit(0).cast("bigint").alias(f"a{k}") for k in range(n_acc)]
    )
    one = F.lit(1).cast("bigint")

    def _step(acc: Column, tok: Column) -> Column:
        h = F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")
        fields = []
        for k in range(n_acc):
            add = None
            for t in range(min(per, n - per * k)):
                b = per * k + t
                term = (F.shiftright(h, b).bitwiseAND(one)) * F.lit(1 << (width * t))
                add = term if add is None else add + term
            fields.append((acc[f"a{k}"] + add).alias(f"a{k}"))
        return F.struct(*fields)

    ntok = F.size(token_col).cast("bigint")

    def _finish(acc: Column) -> Column:
        out = None
        for b in range(n):
            k, t = b // per, b % per
            cnt = F.shiftright(acc[f"a{k}"], width * t).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            term = F.when(cnt * 2 > ntok, F.lit(1 << b).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            out = term if out is None else out + term
        return out

    return F.aggregate(token_col, zeros, _step, _finish)
