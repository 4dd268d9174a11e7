"""Machine-check the cross-engine quantile-interpolation boundary.

Found by the r12 full-registry x4 differential (tools/differential.py),
root-caused this round: on a TIE PLATEAU (both interpolation endpoints
equal to the same value v), Spark's ``percentile`` computes
``lo + g*(hi - lo)`` = v EXACTLY, while DuckDB's ``quantile_cont`` computes
the two-product form ``(1-g)*lo + g*hi`` whose two roundings can land one
ulp off v (reproduced below with ``quantile_cont([1850.93]*11, 0.02)`` →
v + 1 ulp; the wild case was lineitem flag R at x4, where rank 801.83 sits
inside the quadrupled 1850.93 plateau, DuckDB's p01 came out 1 ulp above
Spark's, and the ``value < lo`` filter flipped the whole 4-duplicate group:
n_clipped_lo 800 vs 804. Same mechanism moved range_interval_join's
per-user p95 alert sets).

The boundary is an ENGINE-PORTABILITY fact, not an engine bug (both values
are valid roundings of the same real number), in the same class as the
documented simhash _MAX_BUCKET scale guard: inactive at every certified SF
(checked bit-for-bit below for every registered percentile input),
activated only when adversarial replication parks a quantile rank on a
duplicated value, and its blast radius is bounded — one ulp on the bound,
so threshold filters can move only the tie group AT the bound value.
"""

from __future__ import annotations

import struct

import duckdb
import numpy as np
from pyspark.sql import functions as F


def _bits(x: float) -> int:
    return struct.unpack(">Q", struct.pack(">d", x))[0]


def test_plateau_interpolation_divergence_reproduces(spark):
    # All eleven values equal: any sane quantile is exactly v. Spark's
    # one-product form delivers that; DuckDB's two-product form rounds one
    # ulp up at p=0.02 (g = 0.2 on n=11: (1-g)*v + g*v != v in float).
    v = 1850.93
    con = duckdb.connect()
    d = con.execute(
        "SELECT quantile_cont(x, 0.02) FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        [[v] * 11],
    ).fetchone()[0]
    con.close()
    s = (
        spark.createDataFrame([(v,)] * 11, "x double")
        .agg(F.percentile("x", F.lit(0.02)).alias("p"))
        .collect()[0]["p"]
    )
    assert _bits(s) == _bits(v), "Spark's plateau quantile must be exact"
    assert _bits(d) == _bits(v) + 1, "DuckDB's two-product rounding, 1 ulp up"
    # blast radius of the divergence on a threshold filter: exactly the
    # duplicate group at the bound value, nothing else
    arr = np.array([v - 1.0] * 3 + [v] * 4 + [v + 1.0] * 4)
    below = {int((arr < b).sum()) for b in (s, d)}
    assert below == {3, 7}  # v's group of 4 flips as a unit


def test_boundary_inactive_at_certified_sf(spark, sf_dir):
    """Every registered percentile input must be bit-identical across the
    engines at the certified SF (winsorized p01/p99 per flag, range-join
    p95 per user) — the x4 activation stays an adversarial-regime fact."""
    from talkinghead_datapipeline_spark.catalog import load_table, table_path

    li = load_table(spark, sf_dir, "lineitem")
    sp = {
        r["l_returnflag"]: (r["p01"], r["p99"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.01)).alias("p01"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM read_parquet("
        f"'{table_path(sf_dir, 'lineitem')}')"
    )
    for flag, (p01, p99) in sp.items():
        d01, d99 = con.execute(
            "SELECT quantile_cont(l_extendedprice, 0.01),"
            " quantile_cont(l_extendedprice, 0.99)"
            " FROM lineitem WHERE l_returnflag = ?",
            [flag],
        ).fetchone()
        assert _bits(p01) == _bits(d01), f"p01 differs for flag {flag}"
        assert _bits(p99) == _bits(d99), f"p99 differs for flag {flag}"
    con.close()

    ev = load_table(spark, sf_dir, "events")
    sp95 = {
        r["user_id"]: r["p95"]
        for r in ev.groupBy("user_id")
        .agg(F.percentile("value", F.lit(0.95)).alias("p95"))
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{table_path(sf_dir, 'events')}')"
    )
    dk95 = dict(
        con.execute(
            "SELECT user_id, quantile_cont(value, 0.95) FROM events GROUP BY 1"
        ).fetchall()
    )
    con.close()
    assert set(sp95) == set(dk95)
    bad = [u for u in sp95 if _bits(sp95[u]) != _bits(dk95[u])]
    assert not bad, f"p95 differs for users {bad[:5]}"
