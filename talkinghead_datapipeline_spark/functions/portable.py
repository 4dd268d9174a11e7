"""Engine-portable expressions, each spelled once per dialect.

A registered query and its DuckDB oracle must compute the same bits, so the
two expressions that carry hashing and float folds across engines live here
and nowhere else:

- **md5-prefix hash**: the first ``n_hex`` hex characters of ``md5(key)``
  read as a BIGINT (``n_hex`` = 8 gives [0, 2^32), 15 gives 60 bits). Every
  engine with md5 computes it identically; engine-native ``hash()``
  functions differ per engine and seed and are never used.
- **vector folds** (dot, cosine, squared L2): position-sequential in DOUBLE,
  so the fold order — and so the float result — is identical. Cosine of a
  zero vector is NULL on both engines (Spark's ``try_divide``, DuckDB's
  ``x / 0``).

Suffixes name the dialect: ``md5_hash`` builds a Column, ``*_expr`` builds
Spark-SQL text, ``*_sql`` builds DuckDB text. The text forms parse JVM-side
in one py4j round trip, and resolve to the same tree as the Column form.

The folds are the ``zip_with`` + ``aggregate`` higher-order functions, not
an ``element_at`` chain: for two array columns the HOF's native array
iteration beats a 64-term extraction chain (sf0.1: brute cosine 0.34 s vs
0.40 s, centroid assign 0.65 s vs 0.79 s, JL projection 0.34 s vs 0.70 s
fresh and 1.6 s vs 5.7 s inside a 77-query session), even though HOF
lambdas are CodegenFallback: the chain's giant generated methods degrade
once a long session pressures the JVM code cache.

On an empty array the engines differ: Spark's fold returns its 0.0 init,
DuckDB's ``list_sum([])`` is NULL (tests/test_cross_engine_primitives.py
pins both). The fixture's vectors are never empty.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hash(key: Column, n_hex: int) -> Column:
    """The md5-prefix hash of ``key`` as a Column."""
    return F.conv(F.substring(F.md5(key), 1, n_hex), 16, 10).cast("bigint")


def md5_hash_expr(key: str, n_hex: int) -> str:
    """Spark-SQL text of :func:`md5_hash` (the same tree)."""
    return f"CAST(conv(substring(md5({key}), 1, {n_hex}), 16, 10) AS BIGINT)"


def md5_hash_sql(key: str, n_hex: int) -> str:
    """DuckDB text of :func:`md5_hash`."""
    return f"('0x' || substr(md5({key}), 1, {n_hex}))::BIGINT"


def dot_expr(a: str, b: str) -> str:
    """Spark-SQL text: sequential left-fold dot product in DOUBLE."""
    return (
        f"aggregate(zip_with(transform({a}, x -> CAST(x AS DOUBLE)),"
        f" transform({b}, x -> CAST(x AS DOUBLE)),"
        f" (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB text of :func:`dot_expr`."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def cosine_expr(a: str, b: str) -> str:
    """Spark-SQL text: cosine similarity; NULL for a zero-norm vector
    (``try_divide``, not an ANSI DIVIDE_BY_ZERO that aborts the stage)."""
    return (
        f"try_divide({dot_expr(a, b)},"
        f" sqrt({dot_expr(a, a)}) * sqrt({dot_expr(b, b)}))"
    )


def cosine_sql(a: str, b: str) -> str:
    """DuckDB text of :func:`cosine_expr`."""
    return f"({dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})))"


def dist2_expr(a: str, b: str) -> str:
    """Spark-SQL text: sequential-fold squared L2 distance in DOUBLE."""
    return (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE)),"
        f" 0.0D, (acc, d) -> acc + d * d)"
    )


def dist2_sql(a: str, b: str) -> str:
    """DuckDB text of :func:`dist2_expr`."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        f" * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )
