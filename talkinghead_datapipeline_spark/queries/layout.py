"""Data-layout queries: multi-dimensional clustering keys for scan pruning.

At 100 TB the fastest query is the one that never reads the file: parquet
footers carry per-column min/max, so writing data ordered by a Z-ORDER
(Morton) key makes BOTH dimensions' ranges narrow within every file, and a
2-D predicate prunes on either column. This module computes the layout key
and *certifies the narrowing* — each Z-bucket's per-dimension extent is the
exact min/max a parquet footer would carry had the bucket been a file.

The construction is the one Delta/Iceberg use (normalize each dimension to
a fixed bit budget via global min/max, interleave bits), expressed as pure
integer column arithmetic so the DuckDB oracle replays it bit-for-bit:
no floats anywhere, no engine-specific hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.queries import register

_ZBITS = 12  # per-dimension resolution: 4096 cells
_ZBUCKET_SHIFT = 16  # keep top 2*_ZBITS-16 = 8 interleaved bits → 16×16 grid


def _interleave(a: Column, b: Column) -> Column:
    """Morton interleave: bit i of a → bit 2i, bit i of b → bit 2i+1."""
    z = F.lit(0).cast("bigint")
    for i in range(_ZBITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(1), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(1), 2 * i + 1)
        )
    return z


def _interleave_sql(a: str, b: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
    WITH base AS (
      SELECT o_custkey AS cust,
             CAST(date_diff('day', DATE '1992-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS day
      FROM orders
    ),
    stats AS (
      SELECT min(cust) AS cust_min, max(cust) AS cust_max,
             min(day) AS day_min, max(day) AS day_max
      FROM base
    ),
    scaled AS (
      SELECT cust, day,
             ((cust - cust_min) * {1 << _ZBITS})
               // (cust_max - cust_min + 1) AS cust_b,
             ((day - day_min) * {1 << _ZBITS})
               // (day_max - day_min + 1) AS day_b
      FROM base, stats
    ),
    zed AS (
      SELECT cust, day,
             ({_interleave_sql('cust_b', 'day_b')}) >> {_ZBUCKET_SHIFT}
               AS zbucket
      FROM scaled
    )
    SELECT CAST(zbucket AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(cust) AS BIGINT) AS cust_lo,
           CAST(max(cust) AS BIGINT) AS cust_hi,
           CAST(min(day) AS BIGINT) AS day_lo,
           CAST(max(day) AS BIGINT) AS day_hi
    FROM zed
    GROUP BY zbucket
    ORDER BY zbucket
"""


@register("zorder_data_skipping", oracle=_ZORDER_ORACLE)
def zorder_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over orders(o_custkey, o_orderdate)
    and the per-bucket min/max extents that certify 2-D data skipping:
    every bucket's (cust_hi-cust_lo) and (day_hi-day_lo) spans are ~1/16 of
    the global span, where a 1-D sort would leave the second dimension's
    span at 100%. Deterministic end-to-end: global-min/max normalization
    and bit interleaving are exact integer ops mirrored in the oracle.

    Scale: pass 1 is a 1-row global min/max agg (the stats scan every
    range-layout writer performs), broadcast into pass 2's map-only key
    computation; the bucket rollup is one hash-agg shuffle. The writer-side
    continuation is ``df.repartitionByRange(F.col('z')).sortWithinPartitions
    ('z')`` + parquet, after which footer stats deliver the pruning this
    query measures."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").cast("bigint").alias("cust"),
        F.datediff("o_orderdate", F.lit("1992-01-01")).cast("bigint").alias("day"),
    )
    stats = base.agg(
        F.min("cust").alias("cust_min"),
        F.max("cust").alias("cust_max"),
        F.min("day").alias("day_min"),
        F.max("day").alias("day_max"),
    )
    scaled = base.crossJoin(F.broadcast(stats)).select(
        "cust",
        "day",
        F.expr(
            f"((cust - cust_min) * {1 << _ZBITS}) div (cust_max - cust_min + 1)"
        ).alias("cust_b"),
        F.expr(
            f"((day - day_min) * {1 << _ZBITS}) div (day_max - day_min + 1)"
        ).alias("day_b"),
    )
    zed = scaled.select(
        "cust",
        "day",
        F.shiftright(
            _interleave(F.col("cust_b"), F.col("day_b")), _ZBUCKET_SHIFT
        ).alias("zbucket"),
    )
    return (
        zed.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("cust").alias("cust_lo"),
            F.max("cust").alias("cust_hi"),
            F.min("day").alias("day_lo"),
            F.max("day").alias("day_hi"),
        )
        .orderBy("zbucket")
    )
