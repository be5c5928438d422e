"""Portable (cross-engine) hashing expressions.

Spark's xxhash64/hash and DuckDB's hash() disagree, so every operator whose
oracle needs hash agreement uses a 60-bit integer derived from md5 — md5 is
identical everywhere. Verified bit-equal between Spark and DuckDB 1.0 for
ascii/unicode/empty strings.

Spark:  conv(substr(md5(x),1,15), 16, 10)::long
DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT)

15 hex digits = 60 bits → always positive, no overflow in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def md5_long(col) -> Column:
    """60-bit non-negative hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_md5_long(expr: str) -> str:
    """Same hash, DuckDB SQL side."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# Spark SQL-expression form, for use inside higher-order function lambdas
# (aggregate/transform), where Column-API functions can't reach.
def sql_expr_md5_long(expr: str) -> str:
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


# ---------------------------------------------------------------------------
# k-MinHash from ONE md5 per element + k affine sketches (a*h + b) mod P —
# the standard single-hash family (cuts the dominant md5 cost k-fold; the
# affine arithmetic is exact int64 in both engines, no overflow by
# construction: h%P < 2^31, a < 2^31 → a*(h%P)+b < 2^62).
# ---------------------------------------------------------------------------
import hashlib as _hashlib

MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def affine_coeffs(k: int, seed: str = "mh") -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs, a odd in [1, P), b in [0, P)."""
    out = []
    for i in range(k):
        a = (int(_hashlib.md5(f"{seed}A{i}".encode()).hexdigest()[:7], 16) * 2 + 1) % MINHASH_P
        b = int(_hashlib.md5(f"{seed}B{i}".encode()).hexdigest()[:7], 16) % MINHASH_P
        out.append((a or 1, b))
    return out


def spark_minhash_token_hashes(arr_expr: str) -> str:
    """Spark SQL expr: ``md5_long(t) % P`` for every element of a string
    array — the ONE md5 per element that all k affine sketches share. Put
    it in its own projection and reference it from the k band expressions
    (k textual references keep CollapseProject from inlining it)."""
    return f"transform({arr_expr}, t -> {sql_expr_md5_long('t')} % {MINHASH_P}L)"


def spark_minhash_band(hashed_expr: str, i: int, k: int, seed: str = "mh") -> str:
    """Spark SQL expr: the i-th of k minhash values over the token-hash
    array of ``spark_minhash_token_hashes`` — one affine pass per band, no
    md5. (A fold computing all k minima at once was measured SLOWER:
    higher-order functions are interpreted, and the per-token zip_with
    allocation costs more than k straight passes. Self-join consumers
    persist the signature table instead of re-deriving it.)"""
    a, b = affine_coeffs(k, seed)[i]
    return (
        f"array_min(transform({hashed_expr}, "
        f"h -> ({a}L * h + {b}L) % {MINHASH_P}L))"
    )


def duckdb_minhash_band(arr_expr: str, i: int, k: int, seed: str = "mh") -> str:
    """DuckDB SQL expr: the i-th of the same k minhash values (independent
    formulation: per-band min over the same affine sketch family)."""
    a, b = affine_coeffs(k, seed)[i]
    h = sql_md5_long("t")
    return (
        f"list_aggregate(list_transform({arr_expr}, "
        f"t -> ({a} * ({h} % {MINHASH_P}) + {b}) % {MINHASH_P}), 'min')"
    )
