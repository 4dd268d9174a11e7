"""ACF + Ljung-Box over daily revenue (STAGED for r14).

Oracle differential (tests/test_queries_oracle.py), an independent Python
recompute of the whole integer chain from raw orders (grid fill, floored
mean, exact moment sums, the one correctly-rounded division, pico-term
quantization, prefix sum), crafted corpora pinning a strong weekly
periodicity (lag-7 dominates) and the constant-series zero-variance NULL
guard on both engines, the documented overflow bound, and the three-axis
invariance contract (tests/test_split_invariance.py).
"""

from __future__ import annotations

import datetime as dt
import math

from talkinghead_datapipeline_spark.queries.timeseries import (
    ACF_LJUNG_BOX_ORACLE,
    acf_ljung_box_daily,
)


def _python_acf(daily_cents: dict) -> list[tuple]:
    """The staged definition in plain Python: dict day->cents (observed
    days only) -> the 7 output rows."""
    d0, d1 = min(daily_cents), max(daily_cents)
    days = [(d0 + dt.timedelta(days=i)) for i in range((d1 - d0).days + 1)]
    dollars = [daily_cents.get(d, 0) // 100 for d in days]
    n = len(dollars)
    m = sum(dollars) // n
    dev = [x - m for x in dollars]
    den = sum(d * d for d in dev)
    assert n * max((abs(d) for d in dev), default=0) ** 2 < 2**63
    rows, cum = [], 0
    for k in range(1, 8):
        num = sum(dev[t] * dev[t - k] for t in range(k, n))
        if den > 0:
            r_ppm = math.floor((float(num) / float(den)) * 1e6)
            t_pico = math.floor(
                (((r_ppm / 1e6) * (r_ppm / 1e6)) / float(n - k)) * 1e12
            )
            cum += t_pico
            q = n * (n + 2) * cum
        else:
            r_ppm, q = None, None
        rows.append((k, n, num, r_ppm, q))
    return rows


def test_matches_independent_python_recompute(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    daily = {}
    for d, p in zip(pdf.o_orderdate, pdf.o_totalprice):
        day = d.date() if hasattr(d, "date") else d
        daily[day] = daily.get(day, 0) + int(round(p * 100))
    expect = _python_acf(daily)
    got = [
        (r["lag"], r["n_days"], r["num"], r["r_ppm"], r["lb_q_scaled"])
        for r in acf_ljung_box_daily(spark, sf_dir).collect()
    ]
    assert got == expect


def _write_orders(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )


def test_crafted_weekly_periodicity(spark, tmp_path):
    import duckdb

    # 16 weeks of a strong weekly pattern: lag-7 autocorrelation must be
    # the largest positive coefficient by far
    t0 = dt.date(2026, 1, 5)
    pattern = [100.0, 200.0, 400.0, 800.0, 400.0, 200.0, 100.0]
    rows = [
        (i, t0 + dt.timedelta(days=i), pattern[i % 7])
        for i in range(16 * 7)
    ]
    _write_orders(spark, tmp_path, rows)
    out = {r["lag"]: r for r in
           acf_ljung_box_daily(spark, str(tmp_path)).collect()}
    assert out[7]["r_ppm"] > 900_000  # near-perfect weekly ACF
    assert out[7]["r_ppm"] > max(out[k]["r_ppm"] for k in range(1, 7))
    assert out[7]["lb_q_scaled"] > out[1]["lb_q_scaled"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    odf = con.execute(ACF_LJUNG_BOX_ORACLE).fetchdf().set_index("lag")
    con.close()
    for k, r in out.items():
        assert int(odf.loc[k, "r_ppm"]) == r["r_ppm"]
        assert int(odf.loc[k, "lb_q_scaled"]) == r["lb_q_scaled"]


def test_crafted_constant_series_null_guard(spark, tmp_path):
    import duckdb

    t0 = dt.date(2026, 1, 5)
    rows = [(i, t0 + dt.timedelta(days=i), 500.0) for i in range(30)]
    _write_orders(spark, tmp_path, rows)
    out = acf_ljung_box_daily(spark, str(tmp_path)).collect()
    assert len(out) == 7
    for r in out:
        assert r["r_ppm"] is None and r["lb_q_scaled"] is None
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM read_parquet("
        f"'{tmp_path}/orders.parquet/*.parquet')"
    )
    odf = con.execute(ACF_LJUNG_BOX_ORACLE).fetchdf()
    con.close()
    assert odf.r_ppm.isna().all() and odf.lb_q_scaled.isna().all()
