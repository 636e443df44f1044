"""Deterministic cross-engine hashing primitives.

The engine needs hashes that are (a) stable across runs, (b) computable
JVM-side (no Python UDFs in the hot path), and (c) reproducible in ANSI SQL
so the DuckDB oracle can verify MinHash/SimHash pipelines value-for-value.

``md5`` is the one hash both Spark and DuckDB compute identically (hex of
UTF-8 bytes), so the engine's 60-bit integer hash is the first 15 hex chars
of md5 parsed as base-16:

    Spark : CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

At 100 TB scale this stays in whole-stage codegen (md5/conv are JVM
intrinsics); xxhash64 would be faster but is not reproducible in the SQL
oracle — swap ``hash64`` to ``F.xxhash64`` for production deployments where
oracle parity is not needed.

MinHash permutations follow the standard universal-hash family
``h_i(x) = (a_i * x + b_i) mod p`` with p = 2^31 - 1 (Mersenne), the same
construction as Spark MLlib's MinHashLSH (mllib MinHashLSH.scala) — we
re-derive it column-side so no ML pipeline / vector assembly is needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2147483647  # 2^31 - 1

# Fixed affine coefficients for the MinHash family, generated once from a
# seeded PRNG (seed=42) and frozen here so signatures are stable forever.
# (Deterministic literals, not runtime randomness — reproducible in SQL.)
_COEFF_SEED = 42


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """(a_i, b_i) pairs for the universal hash family, seeded + frozen."""
    import random

    rnd = random.Random(_COEFF_SEED)
    return [(rnd.randint(1, MERSENNE_P - 1), rnd.randint(0, MERSENNE_P - 1)) for _ in range(num_hashes)]


def hash64(col: Column | str) -> Column:
    """60-bit non-negative integer hash of a string column (md5-derived)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash64_expr(expr: str) -> str:
    """Spark SQL spelling of ``hash64`` over the SQL expression ``expr``,
    for builders written as JVM-parsed SQL strings."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hash64_sql(expr: str) -> str:
    """DuckDB SQL rendering of ``hash64`` for oracle queries."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def affine_hash(hash_col: Column, a: int, b: int) -> Column:
    """(a * (h mod p) + b) mod p — one MinHash permutation, overflow-safe.

    h is < 2^60; reduce mod p first so a*(h%p) <= ~2^62 < 2^63.
    """
    return (F.lit(a) * (hash_col % F.lit(MERSENNE_P)) + F.lit(b)) % F.lit(MERSENNE_P)


def affine_hash_sql(hash_expr: str, a: int, b: int) -> str:
    """DuckDB SQL rendering of ``affine_hash``."""
    return f"(({a} * ({hash_expr} % {MERSENNE_P}) + {b}) % {MERSENNE_P})"


def minhash_signature(shingles_col: Column, num_hashes: int) -> Column:
    """Array of ``num_hashes`` min-values over a (distinct) shingle array.

    Pure column expression: hash each shingle, then take the min of each
    affine permutation with ``aggregate`` — no UDF, no shuffle; evaluates
    inside whole-stage codegen per row.
    """
    coeffs = minhash_coefficients(num_hashes)
    hashed = F.transform(shingles_col, lambda s: hash64(s) % F.lit(MERSENNE_P))

    def perm(a: int, b: int):
        # NB: single-parameter lambda — a 2-arg lambda would be interpreted
        # by F.transform as (element, index).
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)

    sig = [F.array_min(F.transform(hashed, perm(a, b))) for a, b in coeffs]
    return F.array(*sig)
