"""Iterative graph queries over the TPC-H trade network.

The duplicate-clustering operator (``operators/components.py``) covers the
connectivity class; this module adds the *value-iteration* class — a
fixed-iteration PageRank whose every step is the canonical Pregel shape
re-expressed as DataFrame joins: rank-state joins edges on src (one
shuffle), contributions aggregate on dst (one shuffle), teleport is a
map-side literal. A FIXED iteration count keeps the computation a pure
function of the input, so a DuckDB oracle can unroll the same three
iterations as CTEs and the driver certifies every rank value.

At 100 TB: the edge list is the big table and stays hash-partitioned by
src across iterations (one explicit repartition, then every per-iteration
join reuses that distribution); rank state is ~|V| rows, re-shuffled on
dst each step — exactly GraphX's join-strategy, minus the driver-side
convergence check a fixed count avoids. Lineage stays 3 steps deep, so no
checkpoint is needed; an open-ended variant would cut lineage every ~10
steps like ``operators/components.py`` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table, persist_once
from talkinghead_datapipeline_spark.queries import register

_DAMP = 0.85
_ITERS = 3
# Supplier node ids are offset past any custkey (sf10k custkeys < 2^31).
_SUPP_OFFSET = 10_000_000_000


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration PageRank as DuckDB CTEs — same edges, same
    teleport, same damping, so both engines walk identical doubles."""
    steps = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        steps.append(
            f"""
    r{i} AS (
      SELECT n.node,
             (1.0 - {_DAMP}) / (SELECT n_nodes FROM meta)
             + {_DAMP} * coalesce(c.contrib, 0.0) AS rank
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.rank / d.outdeg) AS contrib
        FROM edges e
        JOIN {prev} p ON p.node = e.src
        JOIN outdeg d ON d.node = e.src
        GROUP BY e.dst
      ) c ON c.node = n.node
    )"""
        )
        prev = f"r{i}"
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT CAST(cust AS BIGINT) AS src,
             CAST(supp + {_SUPP_OFFSET} AS BIGINT) AS dst FROM pairs
      UNION ALL
      SELECT CAST(supp + {_SUPP_OFFSET} AS BIGINT) AS src,
             CAST(cust AS BIGINT) AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    meta AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nodes),
    outdeg AS (
      SELECT src AS node, CAST(count(*) AS DOUBLE) AS outdeg
      FROM edges GROUP BY src
    ),
    r0 AS (
      SELECT node, 1.0 / (SELECT n_nodes FROM meta) AS rank FROM nodes
    ),{','.join(steps)}
    SELECT CASE WHEN node >= {_SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END
             AS node_kind,
           CAST(CASE WHEN node >= {_SUPP_OFFSET}
                     THEN node - {_SUPP_OFFSET} ELSE node END AS BIGINT)
             AS node_key,
           round(rank * 1000.0, 9) AS rank_x1000
    FROM {prev}
    ORDER BY rank_x1000 DESC, node_kind ASC, node_key ASC
    LIMIT 20
    """


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional customer↔supplier edge list behind pagerank — exposed
    so tests can pin the load-bearing invariant `distinct src == distinct
    dst` (every node is some edge's dst), which is what makes the removed
    per-iteration nodes-LEFT-join dead code (ADVICE r14). A future switch
    to directed edges breaks the test before it can silently drop
    zero-in-degree nodes from the ranks."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    return pairs.select(
        F.col("o_custkey").cast("bigint").alias("src"),
        (F.col("l_suppkey") + _SUPP_OFFSET).cast("bigint").alias("dst"),
    ).unionAll(
        pairs.select(
            (F.col("l_suppkey") + _SUPP_OFFSET).cast("bigint").alias("src"),
            F.col("o_custkey").cast("bigint").alias("dst"),
        )
    )


@register("pagerank_trade_network", oracle=_pagerank_oracle())
def pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations) over the bidirectional
    customer↔supplier trade graph derived from orders⨝lineitem; top-20
    nodes by rank. Bidirectionality makes every node's out-degree ≥ 1, so
    there is no dangling mass to redistribute and the per-step update is
    rank' = (1-d)/N + d·Σ_in rank/outdeg — the exact form the oracle
    unrolls. Ranks are reported ×1000 rounded to 9: cross-engine float
    noise on a 3-deep double chain is ~1e-15 relative, orders below the
    rounding quantum."""
    # One explicit hash distribution by src; each iteration's rank⨝edges
    # then reuses it instead of re-shuffling the (big) edge side.
    edges = _trade_edges(spark, sf_dir).repartition("src")
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )
    # persist the ITERATION state (edges ⨝ outdeg), not the raw edge list:
    # the whole 3-iteration DAG executes as ONE job, inside which the
    # state subtree appears _ITERS times — with only edges persisted, the
    # outdeg agg + join re-executed per iteration. Locally that's a wash
    # (cold-cache medians 2.95s edges-persist vs 3.04s state-persist at
    # sf0.1 — co-partitioning makes the re-run shuffle-free), but the
    # degree-annotated adjacency is the canonical materialization: per
    # iteration it reads one cache instead of re-running an agg + join
    # over it, and it costs the same memory (one extra double per edge).
    state = persist_once(
        edges.join(outdeg, edges.src == outdeg.node).select(
            "src", "dst", "outdeg"
        )
    )
    nodes = persist_once(state.select(F.col("src").alias("node")).distinct())
    n_nodes = float(nodes.count())  # one tiny job; |V| is an agg, not data

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    teleport = (1.0 - _DAMP) / n_nodes
    # No per-iteration nodes-LEFT-join: the graph is bidirectional by
    # construction (every (cust, supp) pair emits BOTH directions), so every
    # node in `nodes` (= distinct src) is also some edge's dst and appears
    # in `contrib` — the left join's coalesce(contrib, 0) branch was dead
    # code costing a join per iteration. The coalesce stays in the rank
    # expression so the update arithmetic is token-identical. Each
    # iteration is now ONE exchange (the dst-keyed agg); the next join
    # needs ranks hashed by node and contrib's dst-hash output already
    # satisfies it (same key domain, same partition count).
    for _ in range(_ITERS):
        contrib = (
            state.join(ranks, state.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (
                F.lit(teleport) + _DAMP * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        )

    return (
        ranks.select(
            F.when(F.col("node") >= _SUPP_OFFSET, "supplier")
            .otherwise("customer")
            .alias("node_kind"),
            F.when(
                F.col("node") >= _SUPP_OFFSET, F.col("node") - _SUPP_OFFSET
            )
            .otherwise(F.col("node"))
            .cast("bigint")
            .alias("node_key"),
            F.round(F.col("rank") * 1000.0, 9).alias("rank_x1000"),
        )
        .orderBy(F.desc("rank_x1000"), "node_kind", "node_key")
        .limit(20)
    )


@register(
    "recursive_cte_key_depths",
    oracle="""
    WITH RECURSIVE walk(key, node, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT key, node // 2, depth + 1 FROM walk WHERE node > 1
    )
    SELECT CAST(depth AS BIGINT) AS root_depth,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(min(key) AS BIGINT) AS min_key,
           CAST(max(key) AS BIGINT) AS max_key
    FROM (SELECT key, max(depth) AS depth FROM walk GROUP BY key)
    GROUP BY root_depth
    """,
)
def recursive_cte_key_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE on the Spark side (new in Spark 4): walk every
    customer key up the implicit binary tree (parent = key div 2) to the
    root and histogram the path depths. Exercises the recursive-CTE
    surface end to end — seed ∪ step fixpoint, integer-division parity
    (`div` vs `//`), per-key max aggregation over the recursion — against
    DuckDB's recursive CTE on identical SQL semantics. Depth is
    O(log maxkey), so the fixpoint runs ~⌈log2 N⌉ rounds; each round is
    one self-referencing projection, the same iteration shape as the
    pointer-jumping components operator, but expressed declaratively."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_rcte"
    )
    return spark.sql(
        """
        WITH RECURSIVE walk(key, node, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM customer_rcte
          UNION ALL
          SELECT key, node DIV 2, depth + 1 FROM walk WHERE node > 1
        )
        SELECT CAST(depth AS BIGINT) AS root_depth,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(min(key) AS BIGINT) AS min_key,
               CAST(max(key) AS BIGINT) AS max_key
        FROM (SELECT key, max(depth) AS depth FROM walk GROUP BY key)
        GROUP BY root_depth
        """
    )


# ---------------------------------------------------------------------------
# Triangle counting — the local-clustering primitive, on the part co-purchase
# graph: parts are nodes, an (undirected) edge connects two parts that appear
# together in >= 2 orders (the support threshold keeps the graph the
# affinity graph, and bounds edge count at any SF — measured ~3.4k edges at
# sf0.01 AND ~3.6k at sf0.1, because co-purchase support concentrates).
# ---------------------------------------------------------------------------

_TRI_SUPPORT = 2
_TRI_TOPK = 15


@register(
    "triangle_count_copart",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
      SELECT a.p AS pa, b.p AS pb
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {_TRI_SUPPORT}
    ),
    tris AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e1.pb = e2.pa
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    per_node AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY 1
    )
    SELECT node AS p_partkey, n_triangles
    FROM per_node
    ORDER BY n_triangles DESC, p_partkey
    LIMIT {_TRI_TOPK}
    """,
)
def triangle_count_copart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 parts by triangle participation in the co-purchase graph.

    Scale shape: the edge build is one (order) self-join plus a
    (pa, pb) count shuffle; triangle enumeration is the canonical oriented
    2-path join — edges ordered pa < pb mean each triangle is produced
    exactly once, the wedge join keys on the shared middle node, and the
    closing edge check is an equi-join (broadcast here: the support
    threshold keeps |E| dim-sized; at denser graphs you'd orient by
    (degree, id) instead of id so wedge fan-out concentrates on low-degree
    middles — noted, not needed at this support level). Per-node counts
    are a posexplode-free 3-way UNION ALL + count."""
    # The distinct (order, part) base is persisted alongside the edge frame:
    # it feeds the self-join here and, in item_cf_top_recs, BOTH the co
    # frame and the per-item totals — without it the totals branch re-ran
    # the lineitem scan + distinct exchange on every execution.
    li = persist_once(
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    edges = persist_once(
        li.alias("a")
        .join(li.alias("b"), F.expr("a.o = b.o AND a.p < b.p"))
        .select(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _TRI_SUPPORT)
        .select("pa", "pb")
    )
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    tris = (
        # support-thresholded affinity edges are dim-sized at every SF
        # (~3.5k at sf0.01 AND sf0.1), so both the wedge side and the
        # closing-edge side broadcast; a denser graph would SMJ the wedge.
        e1.join(F.broadcast(e2), F.col("b") == F.col("b2"))
        .join(
            F.broadcast(e3),
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
        .select("a", "b", "c")
    )
    nodes = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .select(F.col("node").alias("p_partkey"), "n_triangles")
        .orderBy(F.desc("n_triangles"), F.asc("p_partkey"))
        .limit(_TRI_TOPK)
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering — the classic co-occurrence recommender
# (Jaccard-weighted "customers who bought X also bought Y"), sharing the
# support-thresholded co-purchase edge machinery with triangle counting.
# ---------------------------------------------------------------------------


@register(
    "item_cf_top_recs",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    cnt AS (SELECT p, count(*) AS c FROM li GROUP BY 1),
    co AS (
      SELECT a.p AS pa, b.p AS pb, count(*) AS co
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= {_TRI_SUPPORT}
    ),
    sym AS (
      SELECT pa AS item, pb AS rec, co FROM co
      UNION ALL SELECT pb, pa, co FROM co
    ),
    scored AS (
      SELECT s.item, s.rec, s.co,
             round(CAST(s.co AS DOUBLE) / (ca.c + cb.c - s.co), 6) AS jaccard
      FROM sym s
      JOIN cnt ca ON ca.p = s.item
      JOIN cnt cb ON cb.p = s.rec
    ),
    best AS (
      SELECT item, rec, co, jaccard,
             row_number() OVER (PARTITION BY item
                                ORDER BY jaccard DESC, rec) AS rk
      FROM scored
    )
    SELECT item AS p_partkey, rec AS rec_partkey,
           CAST(co AS BIGINT) AS n_co_orders, jaccard
    FROM best WHERE rk = 1
    ORDER BY jaccard DESC, p_partkey
    LIMIT 25
    """,
)
def item_cf_top_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-weighted item-item CF: for each part, its single best
    "bought-together" recommendation (top-25 strongest overall).

    Scale shape: co-occurrence is the one heavy shuffle (same edge build
    triangle_count_copart caches — literally the same persist_once frame),
    per-item totals are a dim-sized count broadcast into the score join,
    the per-item argmax is WindowGroupLimit-prunable rank=1, and the final
    list is TakeOrderedAndProject. Support >= 2 bounds the pair set the
    same way it bounds the triangle edge set."""
    # Same persisted distinct base as triangle_count_copart (identical
    # plan → one cache entry serves both queries in a shared session): the
    # per-item totals otherwise re-ran the lineitem scan + distinct
    # exchange per execution while only the co frame was cached.
    li = persist_once(
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cnt = li.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    co = persist_once(
        li.alias("a")
        .join(li.alias("b"), F.expr("a.o = b.o AND a.p < b.p"))
        .select(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _TRI_SUPPORT)
    )
    sym = co.select(
        F.col("pa").alias("item"), F.col("pb").alias("rec"), "co"
    ).unionAll(co.select(F.col("pb").alias("item"), F.col("pa").alias("rec"), "co"))
    scored = (
        sym.join(
            F.broadcast(cnt.select(F.col("p").alias("item"), F.col("c").alias("ca"))),
            "item",
        )
        .join(
            F.broadcast(cnt.select(F.col("p").alias("rec"), F.col("c").alias("cb"))),
            "rec",
        )
        .select(
            "item",
            "rec",
            "co",
            F.round(
                F.col("co").cast("double") / (F.col("ca") + F.col("cb") - F.col("co")),
                6,
            ).alias("jaccard"),
        )
    )
    from pyspark.sql.window import Window as W

    rk = F.row_number().over(
        W.partitionBy("item").orderBy(F.desc("jaccard"), F.asc("rec"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            F.col("item").alias("p_partkey"),
            F.col("rec").alias("rec_partkey"),
            F.col("co").cast("bigint").alias("n_co_orders"),
            "jaccard",
        )
        .orderBy(F.desc("jaccard"), F.asc("p_partkey"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# triangle_count_brand_graph: the triangle/motif-counting class — the
# third classical graph primitive next to PageRank (value iteration) and
# the dedup clusters (connectivity).
#
# Graph: the brand co-purchase graph — an edge between two brands that
# appear together in at least 2.2% of orders (the basket machinery with a
# HIGHER gate: uniform TPC-H co-purchase sits tightly around ~2% per
# pair, so the basket query's 0.1% gate passes EVERY pair — fine for
# rule mining, degenerate as a graph topology; 2.2% keeps roughly half
# the pairs at every SF — 137/149/176 edges at sf0.001/0.01/0.1). Emits ONE row: nodes, edges, exact
# triangle count (a<b<c edge-join — each triangle counted once), exact
# wedge count Σ deg·(deg−1)/2, and the global clustering coefficient
# 3T/W floor-ppm (NULL when W = 0 — no wedges, coefficient undefined).
#
# Determinism: every quantity is an exact BIGINT; the one division is an
# integer floor. Scale shape: the order→brand projection is the only
# data-sized stage (a broadcast part-dim join + distinct, shared with the
# basket query); the pair frame is ≤ C(|brands|, 2) rows (vocabulary-
# bounded), and the triangle join runs over the GATED edge frame —
# bounded by |brands|³ in the worst case but by Σ deg² in practice,
# never by data size. The 1-row order-count / aggregate crossJoins are
# broadcast nested-loops by design (whitelisted in tests/test_plans.py).
# ---------------------------------------------------------------------------

TRIANGLE_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM ob),
pairs AS (
  SELECT a.b AS ba, c.b AS bb, CAST(count(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
  GROUP BY 1, 2
),
edges AS (
  SELECT ba, bb FROM pairs CROSS JOIN n WHERE n_ab * 1000 >= 22 * n_orders
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT ba AS v FROM edges UNION ALL SELECT bb AS v FROM edges)
  GROUP BY v
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.ba = e1.bb
  JOIN edges e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(sum((d * (d - 1)) // 2), 0) AS BIGINT) AS n_wedges
  FROM deg
),
ecnt AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
SELECT a.n_nodes, e.n_edges, t.n_triangles, a.n_wedges,
       CASE WHEN a.n_wedges > 0
            THEN (3 * t.n_triangles * 1000000) // a.n_wedges
       END AS clustering_ppm
FROM agg a CROSS JOIN ecnt e CROSS JOIN tri t
"""


@register("triangle_count_brand_graph", oracle=TRIANGLE_ORACLE)
def triangle_count_brand_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count, wedge count, and global clustering coefficient
    of the support-gated brand co-purchase graph — one a<b<c edge-join per
    triangle, Σ deg·(deg−1)/2 wedges, 3T/W floor-ppm (NULL when no
    wedges). See the comment above for the shared basket machinery and
    the vocabulary-bounded scale shape."""
    from talkinghead_datapipeline_spark.queries.behavior import _order_brands

    ob = _order_brands(spark, sf_dir)
    n = ob.agg(F.countDistinct("o").cast("bigint").alias("n_orders"))
    a = ob.select("o", F.col("b").alias("ba"))
    c = ob.select(F.col("o").alias("o2"), F.col("b").alias("bb"))
    edges = persist_once(
        a.join(c, (F.col("o") == F.col("o2")) & (F.col("ba") < F.col("bb")))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_ab") * 1000 >= 22 * F.col("n_orders"))
        .select("ba", "bb")
    )
    deg = (
        edges.select(F.col("ba").alias("v"))
        .unionAll(edges.select(F.col("bb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.coalesce(F.sum(F.expr("(d * (d - 1)) div 2")), F.lit(0))
        .cast("bigint")
        .alias("n_wedges"),
    )
    e1 = edges.select(F.col("ba").alias("a1"), F.col("bb").alias("b1"))
    e2 = edges.select(F.col("ba").alias("a2"), F.col("bb").alias("b2"))
    e3 = edges.select(F.col("ba").alias("a3"), F.col("bb").alias("b3"))
    tri = (
        e1.join(e2, F.col("a2") == F.col("b1"))
        .join(e3, (F.col("a3") == F.col("a1")) & (F.col("b3") == F.col("b2")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    ecnt = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        agg.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN (3 * n_triangles * 1000000) div n_wedges END"
            ).alias("clustering_ppm"),
        )
    )
