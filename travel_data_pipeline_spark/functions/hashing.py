"""Deterministic, engine-portable hashing primitives.

The dedup / fingerprint operators (SURVEY.md §2.10) need hashes that
(a) are stable across Spark versions and partitionings and (b) can be
reproduced by the DuckDB oracle in pure ANSI-ish SQL. Spark's
``xxhash64``/``hash`` do not exist in DuckDB, so everything here is
built on ``md5`` (identical in both engines) with hex->int conversion:

    Spark : conv(substr(md5(x), 1, 15), 16, 10) cast long
    DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

15 hex chars = 60 bits, safely inside a signed 64-bit integer in both.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_CHARS = 15  # 60 bits < 2^63 in both engines


def md5_long(c: Column) -> Column:
    """Uniform 60-bit integer hash of a string column."""
    return F.conv(F.substring(F.md5(c), 1, HEX_CHARS), 16, 10).cast("long")


def md5_long_seeded(c: Column, seed: int) -> Column:
    """Seeded variant — one independent hash family member per seed."""
    return md5_long(F.concat(F.lit(f"s{seed}:"), c))


def md5_long_sql(expr: str) -> str:
    """DuckDB spelling of ``md5_long`` for oracle parity."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {HEX_CHARS})) AS BIGINT)"


# ---------------------------------------------------------------------------
# Universal-hash family for MinHash: ONE md5 per input, k affine
# derivations h_s = (a_s * base + b_s) mod M — ~k x cheaper than k md5s
# and still an (approximately) independent permutation family.
# M = 2^31 - 1 keeps a_s * base < 2^62 (no 64-bit overflow, identical
# arithmetic in Spark and DuckDB).
# ---------------------------------------------------------------------------

MERSENNE_31 = 2147483647


def affine_params(k: int) -> list[tuple[int, int]]:
    """Deterministic LCG-derived (a, b) pairs, a forced odd/nonzero."""
    params = []
    for s in range(k):
        a = ((1103515245 * (s + 1) + 12345) % MERSENNE_31) | 1
        b = (214013 * (s + 1) + 2531011) % MERSENNE_31
        params.append((a, b))
    return params


def minhash_base(c: Column) -> Column:
    """Base integer hash in [0, M) for the affine family."""
    return md5_long(c) % MERSENNE_31


def affine_hash(base: Column, a: int, b: int) -> Column:
    return (base * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_31)


def minhash_base_sql(expr: str) -> str:
    return f"({md5_long_sql(expr)} % {MERSENNE_31})"


def affine_hash_sql(base_expr: str, a: int, b: int) -> str:
    return f"(({base_expr} * {a} + {b}) % {MERSENNE_31})"
