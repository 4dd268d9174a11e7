"""Relational operator surface (SURVEY §2.a E3/E6/E7, §2.d joins/aggs/set-ops).

Each query exercises one engine capability against the TPC-H-ish fixtures and
carries a DuckDB oracle. Reference parity notes cite the behavior being
re-expressed (file:line in /root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.functions.portable import md5_hash, md5_hash_sql
from talkinghead_datapipeline_spark.queries import register

# ---------------------------------------------------------------------------
# Flagship: scan → filter → groupBy agg → orderBy (TPC-H Q1 shape).
# Maps the reference's whole-clip aggregate pattern (dpl/processor/nodes/
# bboxes.py:45-81) onto the canonical pricing-summary aggregation.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
             AS sum_base_price,
           (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            // 100) / 100.0                                                 AS sum_disc_price,
           (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))
                * (100 + CAST(round(l_tax * 100) AS BIGINT)))
            // 10000) / 100.0                                               AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
                 / count(*), 6)                                             AS avg_price,
           round(sum(CAST(round(l_discount * 100) AS BIGINT)) / 100.0
                 / count(*), 6)                                             AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: filtered scan + hash aggregate (8 aggs, 2 keys).

    Integer-units money accumulation (round-8, flagship template): price,
    discount and tax are 2-decimal by construction, so every money sum
    accumulates BIGINT fixed-point units (cents, 10^-4-dollar, and
    10^-6-dollar for the three-factor charge) — exact and associative,
    so no cent can flip with input layout or merge order. The averages
    derive from the same exact integer sums (sum_units/scale/n with
    identical IEEE ops on both engines) rather than avg(double), making
    them layout-invariant too; avg/sum of l_quantity stay double because
    quantity is integer-valued, already exact. Charge units peak ~5e15
    at sf0.1 — inside int64 and the 2^53 mantissa (and past 2^53 the
    int64→double conversion is still deterministic and identical on both
    engines, so the cross-engine hash holds at any SF within int64)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    price_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_c = F.round(F.col("l_discount") * 100).cast("bigint")
    tax_c = F.round(F.col("l_tax") * 100).cast("bigint")
    n = F.count(F.lit(1))
    agged = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum(price_c) / 100.0, 2).alias("sum_base_price"),
        F.sum(price_c * (100 - disc_c)).alias("_sd4"),
        F.sum(price_c * (100 - disc_c) * (100 + tax_c)).alias("_sc6"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.sum(price_c) / 100.0 / n, 6).alias("avg_price"),
        F.round(F.sum(disc_c) / 100.0 / n, 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    # sum_disc_price / sum_charge display is floor-to-cents (round-10):
    # the r9 tie audit measured sum_disc_price 0.34 ulps from a half-cent
    # round() tie at sf0.1 — `div` (= floor on these non-negative sums,
    # identical in both engines) then one exact /100.0 replaces the
    # round(sum_units/10^u, 2) idiom. sum_base_price keeps round(): its
    # cent-sum /100.0 is already exactly a 2-decimal value, never at a
    # tie. sum_charge units peak ~5e15 (int64-safe); its cent quotient
    # ~5e11 is inside 2^53, so the /100.0 is correctly rounded.
    return agged.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        (F.expr("_sd4 div 100") / F.lit(100.0)).alias("sum_disc_price"),
        (F.expr("_sc6 div 10000") / F.lit(100.0)).alias("sum_charge"),
        "avg_qty",
        "avg_price",
        "avg_disc",
        "count_order",
    )


# ---------------------------------------------------------------------------
# Flagship entry query: scan → filter → 3-way join → groupBy agg → window →
# orderBy — one representative of each core operator class (SURVEY §7 phase 1).
# ---------------------------------------------------------------------------


@register(
    "flagship_segment_leaders",
    oracle="""
    WITH per_cust AS (
      SELECT c_mktsegment, c_custkey,
             (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              // 100) / 100.0 AS revenue,
             count(DISTINCT o_orderkey) AS n_orders
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderstatus <> 'P'
      GROUP BY c_mktsegment, c_custkey
    )
    SELECT c_mktsegment, c_custkey, revenue, n_orders, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY revenue DESC, c_custkey ASC) AS rnk
      FROM per_cust
    ) WHERE rnk <= 5
    """,
)
def flagship_segment_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 revenue customers per market segment: filtered scan, 3-way join,
    hash agg, window rank, deterministic tiebreak — the t1 smoke query.

    Physical strategy: lineitem pre-aggregates to order grain BEFORE the
    joins (map-side partial sum → one narrow shuffle on l_orderkey), so the
    joins see one row per order instead of ~4 lineitems, and the distinct
    order count collapses to a plain count(*) — no expanded two-shuffle
    count-distinct. At 100 TB this is the difference between shuffling the
    fact table and shuffling an order-grain rollup of it.

    Exact integer-cents revenue (round 7): the full-sweep split-invariance
    probe caught this query flipping a cent under a 4-split layout —
    customer 119's double-sum lands 2724461.705 on one file and
    2724461.7049999996 on four (an ULP across the round-to-cents
    boundary). Money values are 2-decimal by construction, so both
    engines now accumulate BIGINT 10^-4-dollar units (price-cents x
    (100 − discount-cents)): exact, associative, therefore layout- and
    merge-order-invariant, and — unlike the DECIMAL(18,4) form also
    measured (1.5-1.8s) — free: 1.0s at sf0.1, the double form's cost.
    Per-customer sums peak ~10^11 units, far inside both int64 and the
    2^53 double mantissa; the display is floor-to-cents (`div 100` then
    one exact /100.0, round-10) because round(sum4/10000.0, 2) re-enters
    the cross-engine .5-tie class whenever sum4 % 2500 == 1250 — the r9
    tie audit measured this query 0.125 ulps from such a tie at sf0.001.
    This is the template for the money-aggregate class (tracked in the
    registry conventions)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    li = load_table(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_c = F.round(F.col("l_discount") * 100).cast("bigint")
    order_rev = li.groupBy("l_orderkey").agg(
        F.sum(price_c * (100 - disc_c)).alias("_rev4")
    )
    per_cust = (
        order_rev.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(
            F.sum("_rev4").alias("_rev4s"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        # floor-to-cents display (round-10): `div 100` then one exact
        # /100.0 — round(sum4/10000.0, 2) is the cross-engine .5-tie
        # idiom (ADVICE r8 / q15 class); the r9 tie audit measured this
        # query's revenue cell 0.125 ulps from a half-cent tie at
        # sf0.001. div == floor here: _rev4s >= 0 by construction.
        .select(
            "c_mktsegment",
            "c_custkey",
            (F.expr("_rev4s div 100") / F.lit(100.0)).alias("revenue"),
            "n_orders",
        )
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("c_mktsegment", "c_custkey", "revenue", "n_orders", "rnk")
    )


# ---------------------------------------------------------------------------
# E3 — multi-input key intersection == semi join (dpl/processor/engine.py:108-109)
# ---------------------------------------------------------------------------


@register(
    "e3_key_intersection_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
      AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def e3_key_intersection_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys present in every input (engine.py:108-109) → chained LEFT SEMI joins."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# E7 — memoization as incremental anti-join (dpl/processor/nodes/base.py:135)
# ---------------------------------------------------------------------------


@register(
    "e7_memoization_anti",
    oracle="""
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
)
def e7_memoization_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows whose outputs don't exist yet (base.py:135) → LEFT ANTI join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )


# ---------------------------------------------------------------------------
# E6 — input-exists filter with predicate (base.py:136-142)
# ---------------------------------------------------------------------------


@register(
    "e6_exists_filter",
    oracle="""
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    """,
)
def e6_exists_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep rows whose qualifying input exists → semi join with pushed filter."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("totalprice")
    )


# ---------------------------------------------------------------------------
# N18/N21-style wide join chains (dpl/processor/nodes/a2en.py:13-45 6-way join)
# ---------------------------------------------------------------------------


@register(
    "q5_join_chain_revenue",
    oracle="""
    SELECT n_name,
           (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            // 100) / 100.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_join_chain_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way join (a2en.py's multi-input assembly shape) + agg; dims broadcast.

    Integer-cents revenue (round-8 money convention): exact associative
    BIGINT 10^-4-dollar accumulation on both engines — layout- and
    merge-order-invariant (flagship_segment_leaders is the template)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("_rev4")
        )
        # floor-to-cents display (round-10, flagship template): div ==
        # floor on the non-negative sum; round(sum4/10000.0, 2) is the
        # cross-engine half-cent-tie idiom retired this round.
        .select(
            "n_name", (F.expr("_rev4 div 100") / F.lit(100.0)).alias("revenue")
        )
    )


@register(
    "q3_top_revenue_orders",
    oracle="""
    SELECT l_orderkey,
           (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            // 100) / 100.0 AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic global top-k (rounded key then tiebreak).

    Integer-cents revenue (round-8 money convention): the top-k ranks over
    a rounded money value, exactly the place a layout-dependent cent flip
    would reorder the result — BIGINT 10^-4-dollar accumulation makes the
    rank key exact (flagship_segment_leaders is the template)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            ).alias("_rev4")
        )
        # floor-to-cents display (round-10, flagship template) — and the
        # top-k now ranks on the exact cent value, so a layout-dependent
        # ulp can neither flip a cent nor reorder the limit.
        .withColumn("revenue", F.expr("_rev4 div 100") / F.lit(100.0))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# N7 — argmax-per-group (dpl/processor/nodes/fa.py:21-24 best bbox by score)
# ---------------------------------------------------------------------------


@register(
    "n7_argmax_per_group",
    oracle="""
    SELECT user_id, event_id AS top_event_id, round(value, 2) AS top_value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def n7_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-scoring candidate per group (fa.py:21-24) → rank-1 window row."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("top_event_id"),
            F.round("value", 2).alias("top_value"),
        )
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window rank (single shuffle on the group key)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# N11 — whole-group extent broadcast back (dpl/processor/nodes/bboxes.py:45-81)
# ---------------------------------------------------------------------------


@register(
    "n11_group_extent",
    oracle="""
    SELECT l_orderkey,
           round(min(l_quantity), 2)           AS min_x,
           round(max(l_quantity), 2)           AS max_x,
           round(min(l_extendedprice), 2)      AS min_y,
           round(max(l_extendedprice), 2)      AS max_y,
           round(1.1 * ((max(l_quantity) - min(l_quantity))
                 + (max(l_extendedprice) - min(l_extendedprice))) / 2, 6) AS side
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def n11_group_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-clip min/max extent → square side (bboxes.py:57-76 formula)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.min("l_quantity").alias("_minx"),
        F.max("l_quantity").alias("_maxx"),
        F.min("l_extendedprice").alias("_miny"),
        F.max("l_extendedprice").alias("_maxy"),
    )
    return agg.select(
        "l_orderkey",
        F.round("_minx", 2).alias("min_x"),
        F.round("_maxx", 2).alias("max_x"),
        F.round("_miny", 2).alias("min_y"),
        F.round("_maxy", 2).alias("max_y"),
        F.round(
            1.1
            * ((F.col("_maxx") - F.col("_minx")) + (F.col("_maxy") - F.col("_miny")))
            / 2,
            6,
        ).alias("side"),
    )


# ---------------------------------------------------------------------------
# S10 — exact quantile (dpl/processor/nodes/bboxes.py:180-194)
# ---------------------------------------------------------------------------


@register(
    "s10_quantile_per_flag",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.75), 6) AS q75_qty,
           round(quantile_cont(l_discount, 0.50), 6) AS med_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def s10_quantile_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated quantile (np.quantile parity, bboxes.py:186)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("q75_qty"),
        F.round(F.percentile("l_discount", F.lit(0.50)), 6).alias("med_disc"),
    )


# ---------------------------------------------------------------------------
# Set operations (engine.py:108-109 intersection; base.py:190-200 difference)
# ---------------------------------------------------------------------------


@register(
    "set_intersect_keys",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-set intersection (engine.py:108-109) as INTERSECT."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "set_except_keys",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def set_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-key difference (base.py:190-200 schema diff) as EXCEPT."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    return cust.exceptAll(orders).distinct()


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube (engine surface beyond the reference, §2.d)
# ---------------------------------------------------------------------------


@register(
    "rollup_nation_revenue",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP; dims broadcast into the fact join."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    # Integer-cents accumulation (round-7 money convention): exact and
    # associative, so the rounded cell cannot flip with input layout or
    # merge order — see flagship_segment_leaders and the registry docstring.
    price_c = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum(price_c) / 100.0, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "revenue",
            "n_orders",
        )
    )


@register(
    "cube_flag_status",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations via CUBE."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# String / date function surface (E2 key derivation, engine.py:97-98; §2.d)
# ---------------------------------------------------------------------------


@register(
    "e2_name_derivation",
    oracle="""
    SELECT p_partkey,
           lower(replace(p_type, ' ', '_')) || '_' || CAST(p_partkey AS VARCHAR) AS clip_name,
           upper(substr(p_brand, 1, 5))  AS brand_prefix,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part
    """,
)
def e2_name_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path→name key derivation (engine.py:97-98): join parts with '_'."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.concat_ws(
            "_",
            F.lower(F.regexp_replace("p_type", " ", "_")),
            F.col("p_partkey").cast("string"),
        ).alias("clip_name"),
        F.upper(F.substring("p_brand", 1, 5)).alias("brand_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
    )


@register(
    "date_orders_by_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT)  AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           count(*) AS n_orders,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS revenue
    FROM orders
    WHERE o_orderstatus <> 'P'
    GROUP BY 1, 2
    """,
)
def date_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup with date part extraction."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    return orders.groupBy(
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        # Integer-cents accumulation (round-7 money convention).
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")) / 100.0, 2
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# One-pass numeric profiling: pairwise Pearson correlations from raw sums.
# The formula is spelled out (not the engines' corr()) so both sides walk
# the same arithmetic — corr() implementations differ in normalization and
# one-pass vs two-pass update order.
# ---------------------------------------------------------------------------

_CORR_VARS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = tuple(
    (_CORR_VARS[i], _CORR_VARS[j])
    for i in range(len(_CORR_VARS))
    for j in range(i + 1, len(_CORR_VARS))
)


def _corr_name(x: str, y: str) -> str:
    return f"corr_{x.removeprefix('l_')}_{y.removeprefix('l_')}"


def _corr_sql(x: str, y: str) -> str:
    return (
        f"round((n * s_{x}_{y} - s_{x} * s_{y})"
        f" / sqrt((n * s2_{x} - s_{x} * s_{x}) * (n * s2_{y} - s_{y} * s_{y})),"
        f" 6) AS {_corr_name(x, y)}"
    )


_CORR_ORACLE = f"""
    WITH sums AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             {', '.join(f'sum(CAST({v} AS DOUBLE)) AS s_{v}' for v in _CORR_VARS)},
             {', '.join(f'sum(CAST({v} AS DOUBLE) * CAST({v} AS DOUBLE)) AS s2_{v}' for v in _CORR_VARS)},
             {', '.join(f'sum(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)) AS s_{x}_{y}' for x, y in _CORR_PAIRS)}
      FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           {', '.join(_corr_sql(x, y) for x, y in _CORR_PAIRS)}
    FROM sums
"""


@register("lineitem_measure_correlations", oracle=_CORR_ORACLE)
def lineitem_measure_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the four lineitem measures in
    ONE aggregation pass: every r is assembled from Σx, Σx², Σxy computed
    map-side-combinably in a single scan — the feature-profiling shape that
    stays a 1-row result at any data volume (no per-pair rescans, no
    driver-side math). Rounded to 6 against the identical explicit formula
    in the oracle; the engines' built-in corr()s are deliberately avoided
    (they disagree on update order)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r15 (guide §4): the per-variable moment aggregates and per-pair
    # Pearson assemblies parse as JVM-side strings — the Column loops cost
    # ~2.9k py4j round-trips per build, paid per bench rep. Same trees
    # (plan normdiff empty, plans/r15/lineitem_measure_correlations_*).
    aggs = [F.expr("CAST(count(1) AS DOUBLE) AS n")]
    for v in _CORR_VARS:
        aggs.append(F.expr(f"sum(CAST({v} AS DOUBLE)) AS s_{v}"))
        aggs.append(
            F.expr(f"sum(CAST({v} AS DOUBLE) * CAST({v} AS DOUBLE)) AS s2_{v}")
        )
    for x, y in _CORR_PAIRS:
        aggs.append(
            F.expr(f"sum(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)) AS s_{x}_{y}")
        )
    sums = li.agg(*aggs)
    outs = ["CAST(n AS BIGINT) AS n_rows"]
    for x, y in _CORR_PAIRS:
        outs.append(
            f"round((n * s_{x}_{y} - s_{x} * s_{y})"
            f" / sqrt((n * s2_{x} - s_{x} * s_{x})"
            f" * (n * s2_{y} - s_{y} * s_{y})), 6)"
            f" AS {_corr_name(x, y)}"
        )
    return sums.selectExpr(*outs)


# ---------------------------------------------------------------------------
# Bloom-filter pre-join pruning — the runtime-row-filter pattern (Spark's
# InjectRuntimeFilter / Delta dynamic file pruning) made explicit and
# certified: a k-hash Bloom membership test built from the portable md5
# hash prunes the probe side BEFORE the expensive join, and the exact
# semi-join quantifies the surviving false positives.
# ---------------------------------------------------------------------------

_BLOOM_M = 1024  # bits
_BLOOM_K = 3  # hash functions


def _bloom_bucket_sql(i: int, key: str) -> str:
    return md5_hash_sql(f"'bf{i}|' || CAST({key} AS VARCHAR)", 8) + f" % {_BLOOM_M}"


_BLOOM_ORACLE = f"""
    WITH build AS (
      SELECT DISTINCT c_custkey AS key FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ),
    probe AS (SELECT DISTINCT o_custkey AS key FROM orders),
    candidates AS (
      SELECT p.key FROM probe p
      WHERE {' AND '.join(
          f"EXISTS (SELECT 1 FROM build b WHERE {_bloom_bucket_sql(i, 'b.key')}"
          f" = {_bloom_bucket_sql(i, 'p.key')})" for i in range(_BLOOM_K))}
    )
    SELECT CAST((SELECT count(*) FROM probe) AS BIGINT) AS n_probe,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN b.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           CAST(sum(CASE WHEN b.key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           round(sum(CASE WHEN b.key IS NULL THEN 1.0 ELSE 0.0 END)
                 / count(*), 6) AS fp_rate
    FROM candidates c LEFT JOIN build b ON b.key = c.key
"""


def _bloom_bucket(i: int, key: Column) -> Column:
    return md5_hash(F.concat(F.lit(f"bf{i}|"), key.cast("string")), 8) % _BLOOM_M


@register("bloom_filter_semi_join", oracle=_BLOOM_ORACLE)
def bloom_filter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter probe pruning, certified end to end: the build side
    (BUILDING-segment customers) populates a k=3, m=1024 filter; the probe
    side (distinct order custkeys) keeps only keys whose every hash bucket
    is occupied; the exact semi-join then splits survivors into true
    members vs false positives and reports the measured fp_rate.

    Scale shape: each membership test is a broadcast LEFT SEMI join on a
    precomputed bucket column — the build side collapses to ≤ m distinct
    bucket values per hash (bounded by the filter size, NOT by build
    cardinality), so the probe never shuffles; this is exactly what
    Spark's runtime bloom filter injects, made explicit so the oracle can
    replay it. The exact-verify join exists to certify the fp_rate and is
    the part a production prefilter skips."""
    cust = load_table(spark, sf_dir, "customer")
    build = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    probe = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    cand = probe
    for i in range(_BLOOM_K):
        buckets = build.select(_bloom_bucket(i, F.col("key")).alias(f"b{i}")).distinct()
        cand = cand.join(
            F.broadcast(buckets),
            _bloom_bucket(i, F.col("key")) == F.col(f"b{i}"),
            "left_semi",
        )
    verified = cand.join(
        build.withColumnRenamed("key", "bkey"),
        cand.key == F.col("bkey"),
        "left",
    )
    # n_probe as a broadcast 1-row aggregate instead of an EAGER
    # probe.count(): the count was a full extra orders-scan+distinct job
    # per bench rep (builders run inside the timed region), and the probe
    # subtree under this agg shares its distinct exchange with the
    # candidate chain via ReusedExchange.
    n_probe = probe.agg(F.count(F.lit(1)).cast("bigint").alias("n_probe"))
    return (
        verified.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("bkey").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_true"),
            F.sum(F.when(F.col("bkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_false_pos"),
            F.round(
                F.sum(F.when(F.col("bkey").isNull(), 1.0).otherwise(0.0))
                / F.count(F.lit(1)),
                6,
            ).alias("fp_rate"),
        )
        .crossJoin(F.broadcast(n_probe))
        .select("n_probe", "n_candidates", "n_true", "n_false_pos", "fp_rate")
    )
