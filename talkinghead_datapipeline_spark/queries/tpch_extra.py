"""Classic decision-support query shapes (TPC-H Q4/Q6/Q10/Q12/Q14/Q18/Q19/Q22
analogs, adapted to the fixture schema).

These widen the relational surface beyond the reference's own operator set
(SURVEY §2.d notes partial/final agg, distinct, conditional agg, scalar
subqueries, disjunctive pushdown are "free in Spark; we expose them in the
engine surface"). Each shape stresses a distinct Catalyst capability:

- Q4  — EXISTS decorrelation → left-semi join.
- Q6  — fully-pushed filter + single-row agg (PushedFilters all the way).
- Q10 — fact-to-fact join + broadcast dim + top-k by revenue.
- Q12 — conditional aggregation (pivot-style CASE sums) over a join.
- Q14 — broadcast dim join + ratio-of-sums in one pass.
- Q18 — HAVING subquery → self-join on the aggregated key set.
- Q19 — disjunctive multi-column predicate (OR-of-ANDs) pushdown.
- Q22 — scalar subquery broadcast + NOT EXISTS anti join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.queries import register


def _rev_units():
    """Revenue in exact BIGINT 1e-4-dollar units (money convention,
    flagship_segment_leaders template): price and discount are 2-decimal
    by construction, so cents x (100 - discount-cents) is an exact
    associative integer — convert to display dollars once after the sum
    (floor-to-cents, never round(sum4/10000.0, 2): sum4 % 2500 == 1250 is
    an exactly-representable cross-engine .5 tie — ADVICE r8)."""
    return F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )


@register(
    "q4_priority_order_counts",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS → left-semi join (never multiplies rows), then a
    tiny hash agg on priority. The date filter prunes the probe side before
    the shuffle."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.08)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) // 100) / 100.0
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: the canonical pushdown probe — every predicate reaches the
    parquet scan (min/max row-group pruning on l_shipdate), and the agg is
    a partial-final sum with no grouping shuffle (single row out).

    Integer-units revenue (round-9 money migration): price-cents x
    discount-cents accumulate as exact BIGINT 1e-4-dollar units; the
    display value is floor-to-cents dollars — `div 100` (truncation =
    floor on this non-negative sum, identical in both engines) then one
    exact /100.0 — because round(sum4/10000.0, 2) re-enters the
    cross-engine .5-tie class whenever sum4 % 2500 == 1250 (ADVICE r8)."""
    li = load_table(spark, sf_dir, "lineitem")
    units4 = F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.round(
        F.col("l_discount") * 100
    ).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(units4).alias("_sum4"))
        .select(
            (F.expr("_sum4 div 100") / F.lit(100.0)).alias("revenue")
        )
    )


@register(
    "q10_returned_item_customers",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            // 100) / 100.0 AS revenue,
           round(c_acctbal, 2) AS acctbal
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: lost-revenue ranking. Facts join on pruned date/returnflag
    slices; nation is a 25-row broadcast; top-20 is TakeOrderedAndProject
    (no global sort materialization). Integer-cents revenue (round-8
    money convention) with a floor-to-cents display (round-10, flagship
    template — round(sum4/10000.0, 2) is the retired cross-engine
    half-cent-tie idiom) — the rank key is exact, so the top-20 cannot
    reorder with input layout."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(_rev_units()).alias("_rev4"))
        .withColumn("revenue", F.expr("_rev4 div 100") / F.lit(100.0))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q12_priority_by_linestatus",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional aggregation — CASE-sum fan-out computed in one
    pass over the join (no pivot shuffle; map-side partial aggs)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_ratio",
    oracle="""
    SELECT CAST(floor(
             100000000.0 * sum(CASE WHEN p_type = 'PROMO' THEN units4
                               ELSE 0 END)
                         / sum(units4)) AS BIGINT) AS promo_pct_ppm
    FROM (
      SELECT p_type,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS units4
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
    )
    """,
)
def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: ratio-of-sums over a broadcast dim join — part stays on the map
    side, so the month slice of lineitem is scanned exactly once with no
    shuffle before the single-row agg.

    Integer-units migration (round-9): both sums accumulate exact BIGINT
    1e-4-dollar units, so the promo share is ONE double division of two
    exact integers — bit-identical cross-engine under any layout — and the
    output is floor-to-BIGINT micro-percent (ppm of the 0-100 scale)
    rather than round(,6), which is a different function per engine at
    exact .5 ties (SCALING.md round-8 late find)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    units4 = _rev_units()
    promo4 = F.when(F.col("p_type") == "PROMO", units4).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo4).alias("_promo4"),
            F.sum(units4).alias("_tot4"),
        )
        .select(
            F.floor(F.lit(100000000.0) * F.col("_promo4") / F.col("_tot4"))
            .cast("bigint")
            .alias("promo_pct_ppm")
        )
    )


@register(
    "q18_large_volume_orders",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           round(o_totalprice, 2) AS totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 190)
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: HAVING-subquery membership — the qualifying key set is itself an
    aggregate, applied as a left-semi join before the wide join (the agg
    runs once; the semi join prunes orders before touching customer)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 190)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) // 100)
           / 100.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: OR-of-ANDs across both join sides. Catalyst factors the
    single-side conjuncts out of the disjunction (brand/size prune part
    before the broadcast; quantity bounds prune the scan).

    Integer-units revenue (round-9 money migration): exact BIGINT
    1e-4-dollar accumulation, floor-to-cents display (`div 100` on a
    non-negative sum) — not round(sum4/10000.0, 2), the .5-tie class."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")

    def arm(brand: str, max_size: int, qlo: int, qhi: int):
        return (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= max_size)
            & (qty >= qlo)
            & (qty <= qhi)
        )

    cond = (
        arm("Brand#12", 15, 1, 11)
        | arm("Brand#23", 25, 10, 20)
        | arm("Brand#15", 35, 20, 30)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(_rev_units()).alias("_rev4"))
        .select((F.expr("_rev4 div 100") / F.lit(100.0)).alias("revenue"))
    )


@register(
    "q22_dormant_rich_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
             count(*) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           count(*) AS numcust,
           round(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0, 2)
             AS totacctbal
    FROM customer, avg_bal
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar-subquery threshold (1-row broadcast cross join) +
    NOT EXISTS → left-anti join against the recent-orders key set.

    Integer-units migration (round-9): the `c_acctbal > avg(...)` boundary
    was a double-sum average — accumulation-order-dependent, so a customer
    sitting AT the threshold could flip membership with file layout. The
    comparison is now exact integer algebra: cents * n > sum_cents
    (equivalent for n > 0, no division at all), and the group total sums
    BIGINT cents (the /100.0-then-round(,2) display is tie-free because
    the true value has exactly 2 decimals)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(cents).alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    return (
        cust.withColumn("_cents", cents)
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("_cents") * F.col("_n") > F.col("_s"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("_cents") / F.lit(100.0), 2).alias("totacctbal"),
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            "numcust",
            "totacctbal",
        )
    )


@register(
    "grouping_sets_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the rollup/cube queries): three
    aggregation grains in one pass — Spark expands to a single Expand +
    hash agg, not three scans."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS total_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'retail_price' AS measure, round(p_retailprice, 2) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'size' AS measure, round(CAST(p_size AS DOUBLE), 2) AS value
    FROM part
    """,
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long melt) — the inverse of pivot_status_by_segment;
    Spark's native unpivot is a zero-shuffle Expand node."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("retail_price"),
        F.round(F.col("p_size").cast("double"), 2).alias("size"),
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["retail_price", "size"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "skew_salted_join_revenue",
    oracle="""
    SELECT s_nationkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def skew_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED equi-join (operators.skew.salted_join): the skewed fact side
    gets a uniform salt, the dim side replicates n_salts times, and the
    join key becomes (key, salt) — one hot supplier's rows spread over 8
    shuffle partitions instead of one straggler task. Semantics-preserving
    by construction, so the oracle is the PLAIN join: the driver hash
    proves the salted plan emits exactly the plain join's rows. (AQE's
    skew-join split is the automatic variant; explicit salting also covers
    aggregation fan-in and non-AQE engines.)"""
    from talkinghead_datapipeline_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, sup, ["s_suppkey"], n_salts=8)
    return joined.groupBy("s_nationkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "skew_salted_quantity_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS total_qty,
           round(sum(l_linenumber), 2) AS total_lines
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def skew_salted_quantity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation (operators.skew): groupBy(keys + salt)
    partial-sum → groupBy(keys) merge. With 3×2 distinct groups over the
    whole fact table this is the textbook hot-key shape — salting bounds
    the final reduce fan-in per key. Summed measures here are integer-
    valued, so the re-ordered accumulation is float-exact and the result
    matches the unsalted plan bit-for-bit."""
    from talkinghead_datapipeline_spark.operators.skew import two_phase_sum

    li = load_table(spark, sf_dir, "lineitem")
    out = two_phase_sum(
        li,
        ["l_returnflag", "l_linestatus"],
        {"l_quantity": "raw_qty", "l_linenumber": "raw_lines"},
        n_salts=8,
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("raw_qty", 2).alias("total_qty"),
        # cast to double BEFORE round: DuckDB's round() widens integer sums
        # to DOUBLE while Spark's round() keeps BIGINT — the registry-header
        # cast convention this query violated in round 1 (driver hash FAIL
        # on 40024 vs 40024.0).
        F.round(F.col("raw_lines").cast("double"), 2).alias("total_lines"),
    )
