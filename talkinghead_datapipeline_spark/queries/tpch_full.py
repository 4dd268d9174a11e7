"""The remaining TPC-H query shapes (Q2/Q7/Q8/Q9/Q11/Q13/Q15/Q16/Q20/Q21),
completing the full 22-query decision-support suite together with
``relational.py`` (Q1/Q3/Q5) and ``tpch_extra.py`` (Q4/Q6/Q10/Q12/Q14/Q17/
Q18/Q19/Q22).

The fixture schema has no ``partsupp`` table, so the five queries that
canonically touch it are adapted — deriving the part↔supplier relationship
from ``lineitem`` — while preserving the exact optimizer stress each query
exists to exercise:

- Q2  — correlated scalar-min subquery → agg + self-join on the group key.
- Q7  — two-nation volume: same dim joined twice under an OR-of-pairs.
- Q8  — market share: conditional ratio-of-sums over a 7-relation join.
- Q9  — profit by (nation, year): broadcast dims over the full fact scan.
- Q11 — HAVING threshold from a scalar subquery over the same CTE.
- Q13 — LEFT OUTER join with an ON-clause filter + double aggregation.
- Q15 — max-over-view equality (argmax via within-engine scalar subquery).
- Q16 — count(DISTINCT) + NOT IN → anti join.
- Q20 — nested IN-subqueries with a per-part total threshold join.
- Q21 — EXISTS plus NOT EXISTS, both correlated with a non-equi conjunct.

Numeric-stability conventions follow ``queries/__init__.py``: thresholds
compare exact-in-double quantities (integral l_quantity sums, IEEE-
deterministic products), outputs round floats identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table, persist_once
from talkinghead_datapipeline_spark.queries import register
from talkinghead_datapipeline_spark.queries.tpch_extra import _rev_units


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH eur_supp AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    costs AS (
      SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
             min(l_extendedprice / l_quantity) AS cost
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN eur_supp ON eur_supp.s_suppkey = l_suppkey
      WHERE p_size = 5 AND p_type = 'STANDARD'
      GROUP BY 1, 2
    )
    SELECT round(s_acctbal, 2) AS acctbal, s_name, n_name,
           c.p_partkey, c.s_suppkey, round(c.cost, 6) AS min_cost
    FROM costs c
    JOIN eur_supp ON eur_supp.s_suppkey = c.s_suppkey
    WHERE c.cost = (SELECT min(cost) FROM costs c2
                    WHERE c2.p_partkey = c.p_partkey)
    ORDER BY acctbal DESC, c.s_suppkey ASC, c.p_partkey ASC
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (min-cost supplier). The reference schema has no partsupp,
    so supply cost is the minimum observed unit price per (part, supplier)
    pair from lineitem, restricted to the region's suppliers BEFORE the min
    (as the canonical query does) — min is accumulation-order-insensitive,
    so both engines compute bit-identical doubles and the correlated
    equality is stable. The correlated ``cost = (SELECT min ...)``
    decorrelates to a min-over-window on the grouped output — ONE lineitem
    scan (a self-join on the aggregate would re-run the scan: Catalyst does
    not CSE across DataFrame reuse), then a cheap re-shuffle of the tiny
    agg by part key."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 5) & (F.col("p_type") == "STANDARD")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    from pyspark.sql import Window

    eur_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(eur_supp.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    part_min = F.min("cost").over(Window.partitionBy("p_partkey"))
    return (
        costs.withColumn("_min_cost", part_min)
        .filter(F.col("cost") == F.col("_min_cost"))
        .join(F.broadcast(eur_supp), "s_suppkey")
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "s_suppkey",
            F.round("cost", 6).alias("min_cost"),
        )
        .orderBy(F.desc("acctbal"), F.asc("s_suppkey"), F.asc("p_partkey"))
        .limit(100)
    )


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           (sum(volume4) // 100) / 100.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume4
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bilateral trade volume. The nation dim joins twice (supplier side
    and customer side) under an OR-of-nation-pairs; both instances broadcast,
    and the pair filter cannot be pushed to either single join — it lands on
    the joined stream, which is why the two-nation pre-filter on each
    broadcast copy matters (only rows touching either nation survive the
    dim joins at all).

    Integer-units revenue (round-9 money migration): exact BIGINT
    1e-4-dollar accumulation per (nation-pair, year) group, floor-to-cents
    display — see _rev_units."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pair = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = pair.select(
        F.col("n_nationkey").alias("_n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = pair.select(
        F.col("n_nationkey").alias("_n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(_rev_units()).alias("_rev4"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            (F.expr("_rev4 div 100") / F.lit(100.0)).alias("revenue"),
        )
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(floor(1000000.0
                      * sum(CASE WHEN nation = 'NATION_5' THEN volume4
                            ELSE 0 END)
                      / sum(volume4)) AS BIGINT) AS mkt_share_ppm
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume4,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: one nation's share of regional revenue per year — a 7-relation
    join (the engine's widest relational query) where every dim broadcasts
    and the two fact tables meet in a single shuffle; the share is a
    conditional ratio-of-sums computed in the same aggregation pass.

    Integer-units migration (round-9): both sums are exact BIGINT
    1e-4-dollar units, the share is ONE double division of exact integers
    (bit-identical cross-engine), and the output is floor-to-BIGINT ppm —
    round(,6) on a bit-identical-by-construction double is the
    cross-engine .5-tie class (SCALING.md round-8 late find)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = nation.select("n_nationkey", "n_regionkey")
    n2 = nation.select(
        F.col("n_nationkey").alias("_n2_key"), F.col("n_name").alias("nation")
    )
    vol4 = _rev_units()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(region), n1.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("_n2_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("nation") == "NATION_5", vol4).otherwise(F.lit(0))
            ).alias("_n5_4"),
            F.sum(vol4).alias("_tot4"),
        )
        .select(
            "o_year",
            F.floor(F.lit(1000000.0) * F.col("_n5_4") / F.col("_tot4"))
            .cast("bigint")
            .alias("mkt_share_ppm"),
        )
    )


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT nation, o_year, sum(amount4) / 10000.0 AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))
               - CAST(round(p_retailprice * 100) AS BIGINT) * 10
                 * CAST(round(l_quantity) AS BIGINT) AS amount4
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (profit by supplier nation and order year). partsupp's
    supply cost is absent, so cost is proxied as 10% of retail price per
    unit — the plan shape is unchanged: the part name filter prunes the
    broadcast dim, which then prunes the fact scan through the join; orders
    joins on the already-reduced stream.

    Integer-units migration (round-9): every term of the profit expression
    is exact in BIGINT 1e-4-dollar units — revenue4 = cents x
    (100 - disc_cents), cost4 = retail_cents x 10 x qty (0.1 dollars =
    retail_cents x 10 units exactly; l_quantity is integral) — so the
    per-group sum is exact and possibly NEGATIVE: display is one unrounded
    /10000.0 (bit-identical cross-engine). Note for future signed-value
    migrations (ADVICE r9): floor() rounds toward -inf IDENTICALLY in
    Spark and DuckDB and is safe on negatives — it is integer `div`
    (Spark, truncates toward zero) vs `//` (DuckDB, floors) that diverge
    on negative operands, and round(,4) that is the .5-tie class; those
    two stay out of this path."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount4 = _rev_units() - F.round(F.col("p_retailprice") * 100).cast(
        "bigint"
    ) * 10 * F.round(F.col("l_quantity")).cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg((F.sum(amount4) / F.lit(10000.0)).alias("sum_profit"))
    )


@register(
    "q11_important_part_values",
    oracle="""
    WITH vals AS (
      SELECT l_partkey AS p_partkey, sum(l_quantity * p_retailprice) AS value
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY 1
    )
    SELECT p_partkey, round(value, 2) AS part_value
    FROM vals
    WHERE value > (SELECT avg(value) * 2.0 FROM vals)
    ORDER BY part_value DESC, p_partkey ASC
    """,
)
def q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: flag parts whose traded value (quantity x retail price,
    standing in for availqty x supplycost) for one nation's suppliers
    exceeds 2x the nation's per-part average (a multiple-of-average rather
    than the canonical fraction-of-total so the selectivity is scale-free —
    a fixed fraction selects nothing once the part count grows past its
    tuning point). The HAVING threshold is a scalar subquery over the SAME
    aggregate, so the agg is computed once, its average reduces to one
    broadcast row, and the filter is a map-side comparison (no second
    scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    vals = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(F.col("l_quantity") * F.col("p_retailprice")).alias("value"))
    )
    vals = persist_once(vals)
    threshold = vals.agg((F.avg("value") * 2.0).alias("_thresh"))
    return (
        vals.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("_thresh"))
        .select("p_partkey", F.round("value", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), F.asc("p_partkey"))
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: order-count histogram. The priority filter lives in the OUTER
    join's ON clause (not WHERE) so customers with only urgent orders still
    appear with count 0 — pushing it to WHERE would silently drop them.
    Double aggregation: per-customer count, then a tiny distribution agg."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS s_suppkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT supplier.s_suppkey, s_name,
           (rev4 // 100) / 100.0 AS total_revenue
    FROM supplier JOIN revenue ON supplier.s_suppkey = revenue.s_suppkey
    WHERE rev4 = (SELECT max(rev4) FROM revenue)
    ORDER BY supplier.s_suppkey ASC
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: the revenue view is computed ONCE (persisted) and reused for
    both the max scalar subquery and the equality probe — the reference
    pattern of re-evaluating a view twice is the known Q15 trap. The max
    reduces to one broadcast row.

    Integer-units revenue (round-8 money convention, flagship template):
    the r8 boundary audit measured one supplier group 1.4e-6 cents from
    its round-to-cent boundary at sf0.01 — four orders thinner than any
    other money cell and within ~10-100x of a few accumulation-order ULPs,
    the exact class that flipped flagship's cent under a 4-split layout.
    Both engines now sum BIGINT 10^-4-dollar units (price-cents x
    (100 - discount-cents)): exact, associative, layout-invariant. The
    max-membership equality also rides the integer units, so argmax ties
    are exact set equality rather than double coincidence. Display is
    floor-to-cents (`div 100` on the non-negative BIGINT, identical in
    both engines), NOT round(rev4/10000.0, 2): rev4 % 2500 == 1250 is an
    exactly-representable 2-decimal .5 tie where the engines' round
    functions disagree (ADVICE r8) — the same tie class the staged r9
    queries already avoid."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_c = F.round(F.col("l_discount") * 100).cast("bigint")
    revenue = persist_once(
        li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
            F.sum(price_c * (100 - disc_c)).alias("_rev4")
        )
    )
    top = revenue.agg(F.max("_rev4").alias("_max_rev4"))
    return (
        supp.join(revenue, "s_suppkey")
        .crossJoin(F.broadcast(top))
        .filter(F.col("_rev4") == F.col("_max_rev4"))
        .select(
            "s_suppkey",
            "s_name",
            (F.expr("_rev4 div 100") / F.lit(100.0)).alias("total_revenue"),
        )
        .orderBy(F.asc("s_suppkey"))
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: how many suppliers can supply each (brand, type, size),
    with the part↔supplier relation derived from lineitem (no partsupp) and
    complained-about suppliers excluded — NOT IN over a non-null key
    decorrelates to a left-anti join against the (tiny, broadcast) excluded
    set; count(DISTINCT) expands to a two-phase agg."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


@register(
    "q20_excess_share_suppliers",
    oracle="""
    WITH part_tot AS (
      SELECT l_partkey, sum(l_quantity) AS tot
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1
    ),
    pairs AS (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS pair_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM pairs JOIN part_tot USING (l_partkey)
      WHERE pair_qty > 0.3 * tot
    )
    ORDER BY s_suppkey ASC
    """,
)
def q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers holding an outsized share of a part's flow —
    availqty > half-of-shipped becomes pair-quantity > 30% of the part's
    1997 total. Two aggregates at different grains join on the part key,
    the qualifying supplier set collapses via a left-semi join (never
    multiplying supplier rows), and the threshold compares integral-valued
    double sums (exact) times an IEEE-deterministic constant product — so
    both engines agree bit-for-bit at the boundary."""
    li97 = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part_tot = li97.groupBy("l_partkey").agg(F.sum("l_quantity").alias("tot"))
    pairs = (
        li97.join(F.broadcast(part), li97.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("pair_qty"))
    )
    qualifying = (
        pairs.join(part_tot, "l_partkey")
        .filter(F.col("pair_qty") > 0.3 * F.col("tot"))
        .select("l_suppkey")
    )
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy(F.asc("s_suppkey"))
    )


@register(
    "q21_lone_blamed_supplier",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND n_name = 'NATION_7'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 100
    """,
)
def q21_lone_blamed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: the supplier solely at fault on a multi-supplier order.
    The schema lacks receipt/commit dates, so "late" is l_returnflag = 'R';
    the optimizer stress is identical — an EXISTS and a NOT EXISTS, both
    correlated on the order key WITH a non-equi supplier-inequality
    conjunct, planned as a left-semi then left-anti join whose extra
    predicate rides along in the join condition (no row explosion)."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("_l2_okey"), F.col("l_suppkey").alias("_l2_skey")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("_l3_okey"), F.col("l_suppkey").alias("_l3_skey")
        )
    )
    blamed = (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("_l2_okey"))
            & (l1.l_suppkey != F.col("_l2_skey")),
            "left_semi",
        ).join(
            l3,
            (l1.l_orderkey == F.col("_l3_okey"))
            & (l1.l_suppkey != F.col("_l3_skey")),
            "left_anti",
        )
    )
    return (
        blamed.join(orders, blamed.l_orderkey == orders.o_orderkey)
        .join(supp, blamed.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )
