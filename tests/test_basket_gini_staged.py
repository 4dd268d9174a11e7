"""Market-basket association rules + Gini/Lorenz concentration (STAGED r13).

Oracle differentials (tests/test_queries_oracle.py), independent
pandas/python recomputations from raw rows (pair counting via set
intersections; Gini via the sorted closed form AND the O(n^2)
mean-absolute-difference definition), crafted corpora pinning the support
gate, the lift floor division, the decile boundary under tied values
(custkey tiebreak), and Gini's 0 / (n-1)/n extremes, plus the three-axis
invariance contract (the basket split case here, since its fixture writes
BOTH its tables — lineitem re-split, part as-is; the rest in
tests/test_split_invariance.py)."""

from __future__ import annotations

from itertools import combinations

import numpy as np

from talkinghead_datapipeline_spark.queries.behavior import (
    basket_association_rules,
    gini_revenue_concentration,
)


def test_basket_matches_python_recompute(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).toPandas()
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    ).toPandas()
    brand = dict(zip(pt.p_partkey, pt.p_brand))
    baskets: dict[int, set] = {}
    for o, p in zip(li.l_orderkey, li.l_partkey):
        baskets.setdefault(int(o), set()).add(brand[int(p)])
    n_orders = len(baskets)
    n_b: dict[str, int] = {}
    n_ab: dict[tuple, int] = {}
    for bs in baskets.values():
        for b in bs:
            n_b[b] = n_b.get(b, 0) + 1
        for a, c in combinations(sorted(bs), 2):
            n_ab[(a, c)] = n_ab.get((a, c), 0) + 1
    rules = [
        (
            (k * n_orders * 1_000_000) // (n_b[a] * n_b[c]),
            a, c, k, n_b[a], n_b[c],
            (k * 1_000_000) // n_orders,
            (k * 1_000_000) // n_b[a],
            (k * 1_000_000) // n_b[c],
        )
        for (a, c), k in n_ab.items()
        if k * 1000 >= n_orders
    ]
    rules.sort(key=lambda t: (-t[0], t[1], t[2]))
    out = basket_association_rules(spark, sf_dir).collect()
    assert len(out) == min(20, len(rules))
    for row, exp in zip(out, rules):
        lift, a, c, k, na, nb, sup, cab, cba = exp
        assert (
            row["brand_a"], row["brand_b"], row["n_ab"], row["n_a"],
            row["n_b"], row["support_ppm"], row["conf_a_to_b_ppm"],
            row["conf_b_to_a_ppm"], row["lift_micro"],
        ) == (a, c, k, na, nb, sup, cab, cba, lift)


def test_gini_matches_mean_absolute_difference(spark, sf_dir):
    """The closed form G = (2*S1 - (n+1)*S0)/(n*S0) must equal the
    definitional Gini = mean|x_i - x_j| / (2*mean) — computed here O(n^2)
    in exact integers."""
    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).toPandas()
    cents = np.round(o.o_totalprice * 100).astype(np.int64)
    per_cust: dict[int, int] = {}
    for c, v in zip(o.o_custkey, cents):
        per_cust[int(c)] = per_cust.get(int(c), 0) + int(v)
    x = np.array(sorted(v // 100 for v in per_cust.values()), dtype=np.int64)
    n, s0 = len(x), int(x.sum())
    s1 = int((np.arange(1, n + 1) * x).sum())
    g_closed = (2 * s1 - (n + 1) * s0) / (n * s0)
    mad = int(np.abs(x[None, :] - x[:, None]).sum())  # n^2 exact ints
    g_def = mad / (2 * n * n * (s0 / n))
    assert abs(g_closed - g_def) < 1e-12
    rows = gini_revenue_concentration(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["gini_ppm"] == int(np.floor(g_closed * 1e6)) for r in rows)
    assert rows[-1]["cum_share_ppm"] in (999999, 1000000)  # floor of total
    # Lorenz curve is convex-increasing: shares nondecreasing over deciles
    shares = [r["share_ppm"] for r in rows]
    assert shares == sorted(shares)
    assert sum(r["n_customers"] for r in rows) == n


def _write_orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    ).selectExpr(
        "o_orderkey", "o_custkey",
        "CAST('2024-01-01' AS TIMESTAMP) AS o_orderdate", "o_totalprice"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )


def test_gini_crafted_extremes_and_tie_deciles(spark, tmp_path):
    # 10 customers, all equal revenue -> Gini exactly 0; the ties span
    # every decile boundary, so the (x, custkey) tiebreak must place
    # exactly one customer per decile
    _write_orders(
        spark, tmp_path, [(i, i, 50.0) for i in range(10)]
    )
    rows = gini_revenue_concentration(spark, str(tmp_path)).collect()
    assert len(rows) == 10
    assert all(r["gini_ppm"] == 0 for r in rows)
    assert all(r["n_customers"] == 1 for r in rows)
    assert all(r["share_ppm"] == 100000 for r in rows)

    # maximal concentration: one customer holds everything (others 1$ of
    # 0 dollars after floor-division -> keep them at 0 via 0.4$ = 40 cents
    # -> 0 dollars exactly); closed form gives G = (n-1)/n - adjusted for
    # the zero mass: with x = [0]*9 + [s], G = (2*n*s - (n+1)*s)/(n*s)
    # = (n-1)/n = 0.9
    _write_orders(
        spark, tmp_path,
        [(i, i, 0.4) for i in range(9)] + [(9, 9, 1000.0)],
    )
    rows = gini_revenue_concentration(spark, str(tmp_path)).collect()
    assert rows[-1]["gini_ppm"] == 900000
    assert rows[-1]["share_ppm"] == 1000000  # top decile holds all mass


def test_basket_crafted_rules_exact(spark, tmp_path):
    # 10 orders; brand A in all 10, B in orders 0-4, C in orders 0-1.
    # n=10: (A,B): n_ab=5, lift = 5*10/(10*5) = 1.0 -> 1_000_000 micro
    #       (A,C): n_ab=2, lift = 2*10/(10*2) = 1.0
    #       (B,C): n_ab=2, lift = 2*10/(5*2) = 2.0 -> 2_000_000
    # support gate: all pass (>= 0.1%); order: (B,C) first, then (A,B) and
    # (A,C) tie on lift -> brand order breaks the tie
    li, pt = [], [(1, "A"), (2, "B"), (3, "C")]
    for o in range(10):
        li.append((o, 1))
        if o < 5:
            li.append((o, 2))
        if o < 2:
            li.append((o, 3))
    spark.createDataFrame(
        li, "l_orderkey bigint, l_partkey bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    spark.createDataFrame(
        pt, "p_partkey bigint, p_brand string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    rows = basket_association_rules(spark, str(tmp_path)).collect()
    got = [
        (r["brand_a"], r["brand_b"], r["n_ab"], r["lift_micro"],
         r["support_ppm"], r["conf_a_to_b_ppm"], r["conf_b_to_a_ppm"])
        for r in rows
    ]
    assert got == [
        ("B", "C", 2, 2_000_000, 200000, 400000, 1_000_000),
        ("A", "B", 5, 1_000_000, 500000, 500000, 1_000_000),
        ("A", "C", 2, 1_000_000, 200000, 200000, 1_000_000),
    ]


def test_basket_split_invariance_bit_exact(spark, sf_dir, tmp_path):
    from talkinghead_datapipeline_spark.catalog import load_table
    from tests.oracle_harness import _canon_frame

    # multi-table query: re-split lineitem, copy part as-is
    load_table(spark, sf_dir, "lineitem").repartition(4).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    load_table(spark, sf_dir, "part").write.parquet(
        str(tmp_path / "part.parquet")
    )
    base = _canon_frame(basket_association_rules(spark, sf_dir).toPandas())
    split = _canon_frame(
        basket_association_rules(spark, str(tmp_path)).toPandas()
    )
    assert base.equals(split)
