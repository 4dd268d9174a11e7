"""Day-of-week seasonal decomposition + forecast backtest (STAGED r13).

Oracle differential (tests/test_queries_oracle.py), a pandas recomputation
of the whole 7-row frame from the exact daily-cents series, a hand-built
two-weekday corpus with hand-computed indices / MAEs (including the
cross-dow naive-forecast interleaving), and the three-axis invariance
contract (tests/test_split_invariance.py; fully integer pipeline).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.timeseries import (
    seasonal_dow_backtest,
)


def test_matches_pandas_recompute(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table
    from talkinghead_datapipeline_spark.functions.geometry import round_half_away

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(round_half_away(F.col("o_totalprice") * 100))
            .cast("bigint")
            .alias("s")
        )
        .toPandas()
        .sort_values("d")
        .reset_index(drop=True)
    )
    daily["dow"] = [d.weekday() for d in daily["d"]]
    st, nt = int(daily["s"].sum()), len(daily)
    daily["f_naive"] = daily["s"].shift(1)
    grp = daily.groupby("dow")["s"]
    daily["s4"] = grp.transform(
        lambda x: x.rolling(4, min_periods=0).sum().shift(1)
    )
    daily["n4"] = grp.transform(
        lambda x: x.rolling(4, min_periods=0).count().shift(1)
    )
    ev = daily[(daily["n4"] == 4) & daily["f_naive"].notna()].copy()
    ev["e_naive"] = (ev["s"] - ev["f_naive"]).abs().astype(int)
    ev["e_seas"] = (ev["s"] - ev["s4"].astype(int) // 4).abs().astype(int)
    out = {r["dow"]: r for r in seasonal_dow_backtest(spark, sf_dir).collect()}
    for dow, g in daily.groupby("dow"):
        row = out[dow]
        assert row["n_days"] == len(g)
        want_idx = ((int(g["s"].sum()) // len(g)) * 1_000_000) // (st // nt)
        assert row["seasonal_index_ppm"] == want_idx
        e = ev[ev["dow"] == dow]
        assert row["n_eval"] == len(e)
        assert row["mae_naive_cents"] == int(e["e_naive"].sum()) // len(e)
        assert row["mae_seasonal_cents"] == int(e["e_seas"].sum()) // len(e)
        if row["mae_naive_cents"]:
            assert row["seas_vs_naive_ppm"] == (
                row["mae_seasonal_cents"] * 1_000_000 // row["mae_naive_cents"]
            )


def test_crafted_corpus_exact(spark, tmp_path):
    # 6 Mondays (2024-01-01 is a Monday) at 100..600 dollars and 6
    # Tuesdays at a constant 100 — the interleaving makes the NAIVE
    # forecast cross dows (Monday's previous observed day is a Tuesday)
    # while the seasonal forecast stays within its weekday lane.
    rows = []
    key = 0
    for wk in range(6):
        mon = dt.datetime(2024, 1, 1) + dt.timedelta(weeks=wk)
        tue = mon + dt.timedelta(days=1)
        rows.append((key, 1, "O", 100.0 * (wk + 1), mon, "1-URGENT")); key += 1
        rows.append((key, 1, "O", 100.0, tue, "1-URGENT")); key += 1
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {r["dow"]: r for r in
           seasonal_dow_backtest(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1}
    # grand mean = (2100 + 600) / 12 = 225.00 -> 22500 cents
    assert out[0]["n_days"] == 6 and out[1]["n_days"] == 6
    assert out[0]["seasonal_index_ppm"] == 35000 * 1_000_000 // 22500
    assert out[1]["seasonal_index_ppm"] == 10000 * 1_000_000 // 22500
    # eval rows: 5th/6th occurrence of each dow (full 4-lag frame + naive)
    assert out[0]["n_eval"] == 2 and out[1]["n_eval"] == 2
    # Mondays: naive = prior Tuesday (100) -> errors 400, 500 dollars;
    # seasonal = trailing-4 Monday mean -> errors 250, 250
    assert out[0]["mae_naive_cents"] == (40000 + 50000) // 2
    assert out[0]["mae_seasonal_cents"] == 25000
    assert out[0]["seas_vs_naive_ppm"] == 25000 * 1_000_000 // 45000
    # Tuesdays: seasonal forecast is exact (constant lane) -> MAE 0
    assert out[1]["mae_seasonal_cents"] == 0
    assert out[1]["mae_naive_cents"] == (40000 + 50000) // 2
    assert out[1]["seas_vs_naive_ppm"] == 0
