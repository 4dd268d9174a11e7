"""Triangle count / clustering coefficient (STAGED for r14).

Oracle differential (tests/test_queries_oracle.py), an independent Python
recompute (sets + explicit triple loop — no join machinery), a crafted
corpus with a hand-countable topology (one triangle + one pendant edge)
pinning the a<b<c single-count rule and the wedge formula on both engines,
the zero-wedge NULL guard, and the three-axis invariance contract (the
split axis here, the conf axes in tests/test_split_invariance.py; exact
integers end-to-end).
"""

from __future__ import annotations

from itertools import combinations

from talkinghead_datapipeline_spark.queries.graph import (
    TRIANGLE_ORACLE,
    triangle_count_brand_graph,
)


def test_matches_independent_python_recompute(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).toPandas()
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    ).toPandas()
    brand = dict(zip(pt.p_partkey, pt.p_brand))
    orders = {}
    for o, pk in zip(li.l_orderkey, li.l_partkey):
        orders.setdefault(o, set()).add(brand[pk])
    n_orders = len(orders)
    from collections import Counter

    pair_n = Counter()
    for bs in orders.values():
        for a, b in combinations(sorted(bs), 2):
            pair_n[(a, b)] += 1
    edges = {p for p, n in pair_n.items() if n * 1000 >= 22 * n_orders}
    nodes = {v for e in edges for v in e}
    deg = Counter(v for e in edges for v in e)
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tris = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )
    row = triangle_count_brand_graph(spark, sf_dir).collect()[0]
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(edges)
    assert row["n_triangles"] == tris
    assert row["n_wedges"] == wedges
    if wedges:
        assert row["clustering_ppm"] == (3 * tris * 1_000_000) // wedges
    else:
        assert row["clustering_ppm"] is None


def _write_graph(spark, tmp_path, orders_brands):
    """orders_brands: list of (orderkey, [brands]). One part per brand."""
    brands = sorted({b for _, bs in orders_brands for b in bs})
    parts = [(i, b) for i, b in enumerate(brands)]
    pk = {b: i for i, b in parts}
    li = [
        (o, pk[b]) for o, bs in orders_brands for b in bs
    ]
    spark.createDataFrame(
        li, "l_orderkey bigint, l_partkey bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    spark.createDataFrame(
        parts, "p_partkey bigint, p_brand string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )


def test_crafted_triangle_plus_pendant(spark, tmp_path):
    import duckdb

    # every order carries a full co-purchase set, so all listed pairs pass
    # any gate: triangle A-B-C plus pendant edge C-D
    _write_graph(
        spark, tmp_path,
        [(1, ["A", "B", "C"]), (2, ["C", "D"])],
    )
    row = triangle_count_brand_graph(spark, str(tmp_path)).collect()[0]
    assert row["n_nodes"] == 4
    assert row["n_edges"] == 4  # AB AC BC CD
    assert row["n_triangles"] == 1
    # deg: A2 B2 C3 D1 -> wedges 1+1+3+0 = 5
    assert row["n_wedges"] == 5
    assert row["clustering_ppm"] == (3 * 1 * 1_000_000) // 5
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{tmp_path}/{t}.parquet/*.parquet')"
        )
    assert con.execute(TRIANGLE_ORACLE).fetchone() == (
        4, 4, 1, 5, 600000,
    )
    con.close()


def test_crafted_zero_wedges_null_guard(spark, tmp_path):
    import duckdb

    # two disjoint edges -> every degree 1 -> zero wedges -> NULL coefficient
    _write_graph(spark, tmp_path, [(1, ["A", "B"]), (2, ["C", "D"])])
    row = triangle_count_brand_graph(spark, str(tmp_path)).collect()[0]
    assert row["n_wedges"] == 0 and row["n_triangles"] == 0
    assert row["clustering_ppm"] is None
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{tmp_path}/{t}.parquet/*.parquet')"
        )
    o = con.execute(TRIANGLE_ORACLE).fetchdf().iloc[0]
    con.close()
    assert int(o["n_wedges"]) == 0
    assert o["clustering_ppm"] != o["clustering_ppm"] or (
        o["clustering_ppm"] is None
    )


def test_split_invariance_bit_exact(spark, sf_dir, tmp_path):
    from talkinghead_datapipeline_spark.catalog import load_table
    from tests.oracle_harness import assert_split_invariance

    load_table(spark, sf_dir, "part").write.parquet(
        str(tmp_path / "part.parquet")
    )
    assert_split_invariance(
        spark, sf_dir, tmp_path, triangle_count_brand_graph, "lineitem"
    )
