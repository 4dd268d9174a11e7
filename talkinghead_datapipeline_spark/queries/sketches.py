"""Probabilistic-sketch queries certified against exact answers.

Companions to ``cms_heavy_hitters`` (textops.py): each sketch is built with
an engine-portable deterministic hash (the md5-prefix construction from
``functions/portable.py``) so the DuckDB oracle constructs the
IDENTICAL sketch and the driver's value-hash check certifies both the
sketch registers and the exact-vs-estimate error, not just "some estimate".

At 100 TB the exact branch is dropped and the sketch IS the answer: a
HyperLogLog register table is ``m`` rows per group after one map-side-
combinable shuffle, where exact ``count(DISTINCT)`` would shuffle every
distinct key. The fixture-scale exact join exists to certify the estimator
end-to-end (Flajolet et al., AofA 2007 constants, incl. the small-range
linear-counting correction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.functions.portable import md5_hash, md5_hash_sql
from talkinghead_datapipeline_spark.queries import register

# p = 9 → m = 512 registers: standard error 1.04/sqrt(512) ≈ 4.6%, and the
# fixture's 150 distinct users per event_type sit in the small-range regime,
# exercising the linear-counting branch; the raw branch is exercised by the
# all-types rollup row (150 distinct over 512 registers is still < 2.5m, so
# a unit test covers the raw branch with a synthetic corpus instead).
_HLL_P = 9
_HLL_M = 1 << _HLL_P
# 60-bit hash (15 md5 hex chars) → 9 bucket bits + 51 rank bits.
_HLL_REST_BITS = 60 - _HLL_P

# DuckDB side of the identical construction. bin() is unpadded in BOTH
# engines (verified: DuckDB bin(5)='101', Spark bin(5)='101'), so
# bit_length(x) = length(bin(x)) for x > 0 and rank = rest_bits+1-bit_length.
_HLL_H_SQL = md5_hash_sql("'hll|' || CAST(user_id AS VARCHAR)", 15)
_HLL_ALPHA_SQL = f"(0.7213 / (1.0 + 1.079 / {_HLL_M}))"

_HLL_ORACLE = f"""
    WITH hashed AS (
      SELECT event_type,
             {_HLL_H_SQL} % {_HLL_M} AS bucket,
             {_HLL_H_SQL} >> {_HLL_P} AS rest
      FROM events
    ),
    ranked AS (
      SELECT event_type, bucket,
             CASE WHEN rest > 0
                  THEN {_HLL_REST_BITS} + 1 - length(bin(rest))
                  ELSE {_HLL_REST_BITS} + 1 END AS rank
      FROM hashed
    ),
    registers AS (
      SELECT event_type, bucket, max(rank) AS r
      FROM ranked GROUP BY event_type, bucket
    ),
    folded AS (
      SELECT event_type,
             sum(power(2.0, -r)) + ({_HLL_M} - count(*)) * 1.0 AS inv_sum,
             {_HLL_M} - count(*) AS zeros
      FROM registers GROUP BY event_type
    ),
    est AS (
      SELECT event_type, zeros,
             {_HLL_ALPHA_SQL} * {_HLL_M} * {_HLL_M} / inv_sum AS e_raw
      FROM folded
    ),
    corrected AS (
      SELECT event_type,
             CASE WHEN e_raw <= 2.5 * {_HLL_M} AND zeros > 0
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / zeros)
                  ELSE e_raw END AS hll_est
      FROM est
    ),
    exact AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT c.event_type, x.exact_distinct,
           round(c.hll_est, 4) AS hll_est,
           round(abs(c.hll_est - x.exact_distinct) / x.exact_distinct, 6)
             AS rel_err
    FROM corrected c JOIN exact x ON c.event_type = x.event_type
    ORDER BY c.event_type
"""


def _hll_registers(df: DataFrame, group: str, key_col: str) -> DataFrame:
    """(group, bucket) → max-rank register table for a HyperLogLog(p=9)
    sketch over ``key_col``. The only shuffle is the register groupBy,
    which partial-aggregates map-side to ≤ m rows per group per task —
    the cardinality path that replaces count(DISTINCT) at 100 TB."""
    h = md5_hash(F.concat(F.lit("hll|"), F.col(key_col).cast("string")), 15)
    bucket = (h % _HLL_M).alias("bucket")
    rest = F.shiftright(h, _HLL_P)
    rank = F.when(
        rest > 0, F.lit(_HLL_REST_BITS + 1) - F.length(F.bin(rest))
    ).otherwise(F.lit(_HLL_REST_BITS + 1))
    return (
        df.select(F.col(group), bucket, rank.alias("rank"))
        .groupBy(group, "bucket")
        .agg(F.max("rank").alias("r"))
    )


def hll_estimate(registers: DataFrame, group: str) -> DataFrame:
    """Fold a register table to the HLL cardinality estimate per group,
    with the AofA'07 small-range linear-counting correction."""
    alpha = 0.7213 / (1.0 + 1.079 / _HLL_M)
    folded = registers.groupBy(group).agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("r")))
            + (F.lit(_HLL_M) - F.count(F.lit(1))) * F.lit(1.0)
        ).alias("inv_sum"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).alias("zeros"),
    )
    e_raw = F.lit(alpha) * _HLL_M * _HLL_M / F.col("inv_sum")
    return folded.select(
        F.col(group),
        F.col("zeros"),
        F.when(
            (e_raw <= 2.5 * _HLL_M) & (F.col("zeros") > 0),
            F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zeros")),
        )
        .otherwise(e_raw)
        .alias("hll_est"),
    )


@register("hll_distinct_users", oracle=_HLL_ORACLE)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog(p=9) distinct-user estimate per event_type, certified
    row-by-row against exact count(DISTINCT) — the oracle builds the SAME
    sketch from the SAME md5-derived hash, so registers, estimate, and
    relative error all value-hash-match across engines.

    Scale shape: the sketch side is ONE shuffle of ≤ m=512 rows per group
    (map-side max-combine on (group, bucket)); the exact side — which
    exists only to certify the estimator — is the expensive
    distinct-shuffle you'd drop at 100 TB. Registers are mergeable, so
    per-partition / per-day sketch tables union and re-max for rollups
    without touching raw data again."""
    ev = load_table(spark, sf_dir, "events")
    regs = _hll_registers(ev, "event_type", "user_id")
    est = hll_estimate(regs, "event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.round("hll_est", 4).alias("hll_est"),
            F.round(
                F.abs(F.col("hll_est") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )
