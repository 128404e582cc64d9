"""Deterministic, engine-portable hashing.

The reference buckets tokens with Python's builtin ``hash(tok) % dim``
(`embeddings/encoder.py:95`), which is salted per-process and therefore not
reproducible. We pin a deterministic 60-bit hash derived from md5 — md5 is
identical in every engine (Spark, DuckDB, Python), so golden fixtures and
duckdb-oracle comparisons are exact. 60 bits (15 hex chars) fits a signed
int64 in every engine.

All of these compile to JVM-side Catalyst expressions (md5 + conv + cast) —
whole-stage-codegen friendly, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 60-bit mask keeps the value positive in signed int64 everywhere.
HASH_BITS = 60


def stable_hash64(col: Column | str) -> Column:
    """Deterministic 60-bit non-negative hash of a string column.

    Equivalent DuckDB SQL::

        CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS UBIGINT)

    and Python: ``int(hashlib.md5(x.encode()).hexdigest()[:15], 16)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def stable_hash_bucket(col: Column | str, num_buckets: int) -> Column:
    """``stable_hash64(col) % num_buckets`` (non-negative)."""
    return F.pmod(stable_hash64(col), F.lit(num_buckets))


def stable_hash64_sql(expr: str) -> str:
    """DuckDB SQL fragment matching :func:`stable_hash64` bit-for-bit."""
    return f"CAST(CAST(CONCAT('0x', substr(md5({expr}), 1, 15)) AS UBIGINT) AS BIGINT)"


def stable_hash64_py(s: str) -> int:
    """Python reference implementation (for numpy oracles in tests)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def double_hash_family(col: Column | str, num_hashes: int) -> list[Column]:
    """Kirsch–Mitzenmacher universal hash family from ONE md5.

    ``h_i = (h1 + i*h2) mod 2^60`` where h1 = 60-bit md5 prefix and h2 =
    40-bit md5 suffix — one digest per value instead of ``num_hashes``
    (the MinHash hot-path optimization; overflow-safe in signed int64 on
    every engine: h1 + i*h2 < 2^60 + num_hashes*2^40).
    """
    c = F.col(col) if isinstance(col, str) else col
    d = F.md5(c)
    h1 = F.conv(F.substring(d, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 16, 10), 16, 10).cast("long")
    mod = F.lit(1 << HASH_BITS)
    return [F.pmod(h1 + F.lit(i) * h2, mod) for i in range(num_hashes)]
