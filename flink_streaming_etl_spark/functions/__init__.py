"""Scalar-function layer (SURVEY.md §2.4 F1-F11) + portable hash family.

Everything here stays JVM-side (built-in ``pyspark.sql.functions`` — inside
whole-stage codegen); no Python UDFs in any hot path.

Portability note (F6): the reference's ``hash_code`` is a JVM String.hashCode;
Spark's ``hash`` is Murmur3 — same capability, different bits (SURVEY.md §2.4).
Where cross-engine bit-equality *matters* (DuckDB oracle checks for
MinHash/SimHash/LSH) we derive integers from ``md5`` hex, which both engines
compute identically: Spark ``conv(substring(md5(s),1,k),16,10)`` ≡ DuckDB
``('0x' || substr(md5(s),1,k))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F1/F2: day bucketing — `date_format(ctime,'yyyy-MM-dd')` (flink-ddl.sql:204)


def day_bucket(ts: Column | str) -> Column:
    return F.date_format(ts, "yyyy-MM-dd")


# F4-F7: the reference's salt expression `mod(hash_code(FLOOR(RAND(1)*1000)),256)`
# (flink-ddl.sql:209). For testable determinism we salt on a hash of the row
# key instead of RAND — same distribution property, reproducible.
def salt_bucket(key: Column | str, buckets: int = 256) -> Column:
    return F.pmod(F.hash(key), F.lit(buckets))


# F8: ROW(a,b,c) → struct
row = F.struct

# ---------------------------------------------------------------------------
# Portable md5-derived hash family (cross-engine deterministic)

#: Largest prime below 2**32 — modulus of the minhash permutation family.
MERSENNE32 = 4294967291


def md5_int(col: Column, hex_chars: int = 8, salt: str | None = None) -> Column:
    """Deterministic non-negative integer from the md5 hex prefix.

    ``hex_chars=8`` → 32-bit range; ``<=15`` keeps the value inside int64.
    Identical in DuckDB: ``('0x' || substr(md5(x),1,n))::BIGINT``.
    """
    target = F.concat(F.lit(salt + ":"), col) if salt else col
    return F.conv(F.substring(F.md5(target), 1, hex_chars), 16, 10).cast("long")


def md5_int_sql(expr: str, hex_chars: int = 8, salt: str | None = None) -> str:
    """DuckDB-side twin of :func:`md5_int` (for oracle SQL generation)."""
    target = f"('{salt}:' || {expr})" if salt else expr
    return f"('0x' || substr(md5({target}), 1, {hex_chars}))::BIGINT"


def perm_params(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the minhash permutation family
    h_i(x) = (a_i * x + b_i) mod MERSENNE32, with a_i odd < 2**31 so the
    product stays inside signed 64-bit in every engine."""
    params = []
    x = seed
    for _ in range(n):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = x | 1
        x = (1103515245 * x + 12345) % (1 << 31)
        params.append((a, x))
    return params


# ---------------------------------------------------------------------------
# Shingling (shared by dedup + text analysis)


def words(text: Column | str) -> Column:
    """Whitespace tokens of trimmed text. DuckDB twin:
    ``string_split_regex(trim(text), '\\s+')``."""
    return F.split(F.trim(text), r"\s+")


# ---------------------------------------------------------------------------
# Embedding math — JVM-side, sequential fold (deterministic summation order)


def vec_dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns via sequential fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def vec_norm(a: Column) -> Column:
    return F.sqrt(vec_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


# ---------------------------------------------------------------------------
# Cross-engine-safe quantization. round() on doubles is NOT portable (engines
# disagree on shortest-repr half-way cases); floor(x*1e6)/1e6 is three exact
# IEEE ops on identical inputs -> identical outputs everywhere.


def q6(x: Column) -> Column:
    return F.floor(x * F.lit(1000000.0)) / F.lit(1000000.0)


def q6_sql(expr: str) -> str:
    return f"floor(({expr}) * 1000000.0) / 1000000.0"
