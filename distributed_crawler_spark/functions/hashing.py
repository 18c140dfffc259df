"""Portable 60-bit hashing shared by the Spark engine and the DuckDB
oracle.

``xxhash64`` is the engine's internal dedup key (north_rule), but it has
no DuckDB equivalent — so every *oracle-checked* operator that exposes
hash-derived values (minhash, simhash, LSH buckets, fingerprints) uses
``phash``: the first 15 hex chars of md5 as a BIGINT. Both engines
implement md5 identically; 15 hex chars = 60 bits < 2^63, no sign issues.

Spark:   conv(substring(md5(s), 1, 15), 16, 10) :: bigint
DuckDB:  ('0x' || substr(md5(s), 1, 15)) :: BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def phash(col: Column) -> Column:
    """Portable 60-bit hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def phash_sql(expr: str) -> str:
    """The same hash as DuckDB SQL text."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def seeded(col: Column, seed: int) -> Column:
    """Seeded variant: hash of '<seed>:<value>' — the family of hash
    functions for minhash signatures."""
    return phash(F.concat(F.lit(f"{seed}:"), col))
