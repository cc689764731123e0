"""Deterministic cross-engine hashing.

Dedup/similarity operators (MinHash, SimHash) need hash functions that produce
*identical* values in Spark and in the DuckDB oracle, so the driver's value-hash
correctness gate can compare them exactly. Platform hashes differ (Spark xxhash64
vs DuckDB's internal hash), so we standardize on:

    H(s) = int(first 15 hex chars of md5(s), 16)        -- 60 bits, fits BIGINT
    h32(s) = H(s) % 2147483647                          -- Mersenne prime 2^31-1

md5 is available and bit-identical in both engines. 15 hex digits keep the value
inside a signed 64-bit integer in both. MinHash permutations are the classic
universal-hash family  (a_i * h32 + b_i) mod p  with p = 2^31-1; products stay
< 2^62 so 64-bit arithmetic never overflows in either engine.

Every helper here returns BOTH the Spark Column and the DuckDB SQL string from the
same constants — single source of truth so the query and its oracle cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_31 = 2147483647  # 2^31 - 1

# Fixed MinHash permutation parameters — generated once from a deterministic LCG
# (seed constants are arbitrary odd numbers; what matters is both engines share them).
def minhash_params(k: int) -> list[tuple[int, int]]:
    params = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(k):
        x = (a * x + b) % (2**31)
        p_a = (x % (MERSENNE_31 - 1)) + 1  # a in [1, p-1]
        x = (a * x + b) % (2**31)
        p_b = x % MERSENNE_31  # b in [0, p-1]
        params.append((p_a, p_b))
    return params


# -- Spark side -------------------------------------------------------------

def hex_long(hex_col: Column) -> Column:
    """Bigint of the first 15 hex chars of an md5 hex string — Spark side."""
    return F.conv(F.substring(hex_col, 1, 15), 16, 10).cast("long")


def md5_long(col: Column) -> Column:
    """H(s): bigint of first 15 hex chars of md5 — Spark side."""
    return hex_long(F.md5(col))


def h32(col: Column) -> Column:
    """H(s) mod (2^31-1) — Spark side."""
    return md5_long(col) % F.lit(MERSENNE_31)


def exact_fingerprint() -> Column:
    """The exact-dup fingerprint of `text`: md5 hex of the text lowercased with
    every whitespace run made one space. Its DuckDB twin stays spelled out in
    each oracle (the reference side)."""
    return F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))


# -- DuckDB side ------------------------------------------------------------

def md5_long_sql(expr: str) -> str:
    """H(s) — DuckDB SQL."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def h32_sql(expr: str) -> str:
    """H(s) mod (2^31-1) — DuckDB SQL."""
    return f"({md5_long_sql(expr)} % {MERSENNE_31})"
