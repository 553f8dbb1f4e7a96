"""Portable deterministic hashing expressions.

Dedup/minhash/simhash need hash functions that are (a) computed JVM-side in
whole-stage codegen, and (b) reproducible outside Spark (the DuckDB
correctness oracle).  Spark's ``hash()``/``xxhash64()`` are murmur3/xxh64
with Spark-specific seeds, so everything here is built on ``md5`` hex
strings, which every engine agrees on byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_seeded(col: Column, seed: int) -> Column:
    """Seeded md5 hex digest -- a family of independent hash functions
    indexed by seed (classic minhash construction)."""
    return F.md5(F.concat(col.cast("string"), F.lit(f"#{seed}")))
