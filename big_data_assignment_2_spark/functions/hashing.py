"""Engine-portable deterministic hashing (extension surface).

Spark's native xxhash64/murmur3 and DuckDB's ``hash()`` are different
algorithms, so every dedup/fingerprint operator that needs a DuckDB oracle
twin hashes through md5 — byte-identical in both engines — and derives
integers from its hex prefix:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)  → [0, 2^60)
    DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)

The universal-hash family for MinHash is ``h_i(x) = (a_i·x + b_i) mod P``
over the Mersenne prime P=2^31-1; a_i·x < 2^62 so 64-bit arithmetic never
overflows in either engine.  The SQL oracles are generated from the same
constants (single source of truth) by ``minhash_sql_exprs``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1

# Fixed universal-hash coefficients (any odd multiplier works; these are
# LCG-style constants reduced mod P, frozen so oracles stay stable).
NUM_MINHASH = 16


def _coeffs() -> tuple[list[int], list[int]]:
    a = [((2 * i + 1) * 1_103_515_245 + 12_345) % MERSENNE_P for i in range(NUM_MINHASH)]
    b = [(i * 2_654_435_761 + 1_013_904_223) % MERSENNE_P for i in range(NUM_MINHASH)]
    return a, b


MINHASH_A, MINHASH_B = _coeffs()


def md5_hash64(col: Column | str) -> Column:
    """Portable 60-bit hash of a string: first 15 hex chars of md5."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def md5_hash64_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_hash64` for oracle generation."""
    return f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15) AS BIGINT)"


def _minhash_term_hash_sql(expr: str) -> str:
    """:func:`minhash_term_hash` of a string ``expr`` as Spark SQL."""
    return (f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
            f" % {MERSENNE_P}")


def minhash_term_hash(col: Column | str) -> Column:
    """Base hash for MinHash: md5-derived, reduced mod P."""
    return md5_hash64(col) % F.lit(MERSENNE_P)


def minhash_sig_array_cols(h_col: str = "__h") -> list[Column]:
    """In-row MinHash signature from a pre-hashed token array column
    (``transform(toks, minhash_term_hash)``): per slot,
    ``array_min`` over the affine family — map-side, no explode, no
    shuffle.  Result-identical to :func:`minhash_sql_exprs` over the
    exploded tokenset (min over the same multiset).  Keep the base-hash
    array as its own projection so codegen evaluates the md5s once, not
    once per slot."""
    return [
        F.expr(f"array_min(transform({h_col}, x -> ({a} * x + {b}) % "
               f"{MERSENNE_P})) AS sig{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def minhash_sql_exprs(hash_expr: str = "h") -> list[str]:
    """The 16 min-aggregations producing a MinHash signature, as SQL both
    engines parse: ``F.expr`` each for Spark; the DuckDB oracles embed
    them verbatim."""
    return [
        f"min(({a} * {hash_expr} + {b}) % {MERSENNE_P}) AS sig{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
