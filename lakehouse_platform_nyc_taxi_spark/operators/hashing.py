"""Cross-engine deterministic hashing primitives.

Everything the dedup/similarity/text operators hash goes through
``md5_long``: the top 60 bits of md5 as a non-negative int64. It is
reproducible in any engine with an md5 function (DuckDB:
``('0x' || substr(md5(x), 1, 15))::BIGINT``), unlike Spark's
``xxhash64``/``hash`` whose algorithms other engines don't ship.
Pure Catalyst expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column) -> Column:
    """First 15 hex digits of md5 as BIGINT (non-negative, < 2^60)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def seeded_md5_long(col: Column, seed: int) -> Column:
    """A family of independent hash functions via seed suffixing."""
    return md5_long(F.concat(col, F.lit(f"#{seed}")))


#: Mersenne prime 2^31 - 1: the modulus of the affine hash family. Products
#: stay under 2^62, so the arithmetic is exact in int64 in every engine.
MINHASH_PRIME = 2_147_483_647


def minhash_coeffs(seed: int) -> tuple[int, int]:
    """Deterministic (a, b) for the affine family h_j(x) = (a_j*x + b_j) mod p.

    Fixed Knuth-style multiplicative constants — no RNG, so the exact same
    coefficients can be emitted as literals into oracle SQL.
    """
    a = (2_654_435_761 * (seed + 1)) % MINHASH_PRIME or 1
    b = (40_503 * (seed + 1) * 65_537 + 17) % MINHASH_PRIME
    return a, b


def affine_long(col: Column, seed: int) -> Column:
    """Seeded rehash of a non-negative int64 via the affine family.

    One md5 per input + k affine transforms replaces k md5s — the standard
    one-base-hash MinHash construction. Input must be >= 0 (md5_long is).
    """
    a, b = minhash_coeffs(seed)
    return ((col % MINHASH_PRIME) * a + b) % MINHASH_PRIME


def affine_long_sql(x: str, seed: int) -> str:
    a, b = minhash_coeffs(seed)
    return f"(({x} % {MINHASH_PRIME}) * {a} + {b}) % {MINHASH_PRIME}"
