"""Skew mitigation (north-star "salting for skew"; SURVEY §7 phase 8).

AQE's skew-join splitting (session.py turns it on) handles most runtime
skew, but two patterns still need explicit salting at 100 TB:

- **Salted broadcast-defeating joins**: when the skewed side's hot keys all
  hash to one reducer and the other side is too big to broadcast, salt the
  skewed side and replicate the other side across the salt domain — the hot
  key fans out over ``n_salts`` tasks.
- **Two-phase aggregation**: a salted partial aggregate splits a hot group
  across tasks, then a final aggregate merges the partials. Correct for any
  algebraic aggregate (sum/count/min/max — avg as sum+count).

Salt values are derived from ``rand(42)`` — the salt only
routes rows, it never appears in results, so determinism of outputs is
preserved by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Add a ``_salt`` column in [0, n_salts) routing each row uniformly."""
    return df.withColumn("_salt", F.floor(F.rand(42) * n_salts).cast("int"))


def replicate_with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Replicate every row once per salt value (the build side of a salted
    join) — an Expand/explode, no shuffle of its own."""
    return df.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the skewed side salted and ``other`` replicated
    ``n_salts``×. Result is identical to ``skewed.join(other, on, how)``;
    the hot keys' rows are spread over ``n_salts`` shuffle partitions."""
    left = with_salt(skewed, n_salts)
    right = replicate_with_salt(other, n_salts)
    return left.join(right, [*on, "_salt"], how).drop("_salt")


def two_phase_sum(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    n_salts: int = 8,
) -> DataFrame:
    """Skew-safe grouped sum: groupBy(keys + salt) partial-sum, then
    groupBy(keys) merge. ``sum_cols`` maps input column → output alias.
    (Spark's own partial aggregation covers this when maps fit in memory;
    explicit salting bounds the FINAL stage's per-key reduce fan-in, which
    partial agg cannot when one key dominates the whole dataset.)"""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "_salt").agg(
        *[F.sum(src).alias(f"_p_{alias}") for src, alias in sum_cols.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"_p_{alias}").alias(alias) for alias in sum_cols.values()]
    )


def top_frequent_keys(df: DataFrame, key: Column | str, k: int) -> DataFrame:
    """Skew diagnosis: the k heaviest keys with counts (run on a sample at
    scale). Feed the result into AQE expectations or a manual salt list."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.desc("n_rows"))
        .limit(k)
    )
