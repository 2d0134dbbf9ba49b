"""Deterministic, engine-portable hashing built from md5.

Dedup/similarity operators (MinHash, SimHash, LSH) need hash functions
that produce IDENTICAL values in Spark and in the DuckDB oracle, so the
driver's value-hash comparison can verify them. Built-in ``hash()`` in
either engine is implementation-specific; md5 is bit-identical
everywhere.

Scheme: ``h(x) = int(hex(md5(x))[:15], 16)`` — 60 bits, always positive,
fits a signed 64-bit long in both engines.

- Spark:  ``conv(substring(md5(x), 1, 15), 16, 10) :: bigint``
- DuckDB: ``cast('0x' || substr(md5(x), 1, 15) as bigint)``

A family of hash functions is derived by salting: ``h_i(x) = h(i || '#'
|| x)``. All hashing happens JVM-side (md5/conv are codegen'd Catalyst
expressions) — no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

HASH_BITS = 60
HASH_MAX = (1 << HASH_BITS) - 1


def phash(col: Column | str) -> Column:
    """60-bit positive portable hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def phash_salted(col: Column | str, salt: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return phash(F.concat(F.lit(f"{salt}#"), c))


def phash_sql(expr: str) -> str:
    """DuckDB SQL fragment computing the same hash as :func:`phash`."""
    return f"cast('0x' || substr(md5({expr}), 1, 15) as bigint)"


def phash_salted_sql(expr: str, salt: int) -> str:
    return phash_sql(f"'{salt}#' || {expr}")

