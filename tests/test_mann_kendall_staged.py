"""Mann-Kendall trend test + Theil-Sen slope (STAGED for r13).

Oracle differentials (tests/test_queries_oracle.py), an independent numpy
recompute of both statistics from the raw daily frame (full pairwise
loops, no shared SQL), a crafted orders corpus with hand-computed S /
tie-corrected variance / z and a hand-checkable median slope, and the
three-axis invariance contract (tests/test_split_invariance.py; exact
integers + one portable IEEE chain: sqrt is correctly rounded by IEEE-754,
division operands stay under 2^53)."""

from __future__ import annotations

import numpy as np

from talkinghead_datapipeline_spark.queries.timeseries import (
    mann_kendall_daily_trend,
    theil_sen_daily_slope,
)


def _daily_cents(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "orders").toPandas()
    cents = np.round(pdf.o_totalprice * 100).astype(np.int64)
    days = pdf.o_orderdate.values.astype("datetime64[D]")
    frame = {}
    for d, c in zip(days, cents):
        frame[d] = frame.get(d, 0) + int(c)
    ds = np.array(sorted(frame))
    return ds, np.array([frame[d] for d in ds], dtype=np.int64)


def test_matches_numpy_recompute(spark, sf_dir):
    ds, x = _daily_cents(spark, sf_dir)
    n = len(x)
    diffs = np.sign(x[None, :] - x[:, None])
    iu = np.triu_indices(n, k=1)
    s_stat = int(diffs[iu].sum())
    _, t = np.unique(x, return_counts=True)
    tie_term = int((t * (t - 1) * (2 * t + 5))[t > 1].sum())
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    var = var18 / 18.0
    z = (s_stat - 1) / np.sqrt(var) if s_stat > 0 else (
        (s_stat + 1) / np.sqrt(var) if s_stat < 0 else 0.0
    )
    row = mann_kendall_daily_trend(spark, sf_dir).collect()[0]
    assert row["n_days"] == n and row["n_pairs"] == n * (n - 1) // 2
    assert row["s_stat"] == s_stat and row["var18"] == var18
    assert row["z_micro"] == int(np.floor(z * 1_000_000.0))

    day_idx = (ds - ds[0]).astype(np.int64)
    si, sj = iu
    slopes = (x[sj] - x[si]).astype(np.float64) / (
        day_idx[sj] - day_idx[si]
    ).astype(np.float64)
    slopes.sort()
    m = len(slopes)
    med = (slopes[(m + 1) // 2 - 1] + slopes[(m + 2) // 2 - 1]) / 2.0 if (
        m % 2 == 0
    ) else slopes[(m + 1) // 2 - 1]
    trow = theil_sen_daily_slope(spark, sf_dir).collect()[0]
    assert trow["n_pairs"] == m
    assert trow["slope_micro_per_day"] == int(np.floor(med * 1_000_000.0))
    lo = slopes[max(1, (m * 25) // 1000 + 1) - 1]
    hi = slopes[max(1, (m * 975) // 1000) - 1]
    assert trow["slope_lo_micro"] == int(np.floor(lo * 1_000_000.0))
    assert trow["slope_hi_micro"] == int(np.floor(hi * 1_000_000.0))


def _write_orders(spark, tmp_path, day_cents):
    rows = [
        (i, f"2024-02-{d:02d}", c / 100.0)
        for i, (d, c) in enumerate(day_cents)
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, ds string, o_totalprice double"
    ).selectExpr(
        "o_orderkey", "CAST(ds AS TIMESTAMP) AS o_orderdate", "o_totalprice"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )


def test_crafted_series_exact(spark, tmp_path):
    # one order per day, daily cents: 100, 300, 200, 200, 400 over
    # 2024-02-01..05. Pairs (i<j): signs
    # (1,3)+ (1,2)+ (1,2)+ (1,4)+ = +4 from day1
    # (3,2)- (3,2)- (3,4)+ = -1 from day2
    # (2,2)0 (2,4)+ = +1 from day3; (2,4)+ = +1 from day4  -> S = 5
    # ties: one group of size 2 (the 200s): tie_term = 2*1*9 = 18
    # var18 = 5*4*15 - 18 = 282 ; var = 282/18 ; z = 4/sqrt(var)
    _write_orders(
        spark, tmp_path,
        [(1, 100), (2, 300), (3, 200), (4, 200), (5, 400)],
    )
    row = mann_kendall_daily_trend(spark, str(tmp_path)).collect()[0]
    assert row["n_days"] == 5 and row["n_pairs"] == 10
    assert row["s_stat"] == 5
    assert row["var18"] == 282
    z = 4.0 / np.sqrt(282.0 / 18.0)
    assert row["z_micro"] == int(np.floor(z * 1_000_000.0))
    assert row["trend"] == "increasing"
    assert bool(row["significant_95"]) == (abs(z) >= 1.959964)

    # slopes (cents/day) over the same series, sorted:
    # pairs: (1,2):200 (1,3):50 (1,4):100/3 (1,5):75
    #        (2,3):-100 (2,4):-50 (2,5):100/3
    #        (3,4):0 (3,5):100 (4,5):200
    # sorted: -100 -50 0 100/3 100/3 50 75 100 200 200 -> median =
    # (100/3 + 50)/2
    trow = theil_sen_daily_slope(spark, str(tmp_path)).collect()[0]
    assert trow["n_pairs"] == 10
    med = ((100.0 / 3.0) + 50.0) / 2.0
    assert trow["slope_micro_per_day"] == int(np.floor(med * 1_000_000.0))


def test_ts_degenerate_single_pair_band_not_null(spark, tmp_path):
    # ADVICE r12: at m=1 the unguarded hi rank (m*975)//1000 = 0 selected
    # no row and returned an asymmetric NULL 97.5% endpoint; with the
    # greatest(1, ·) guard both band endpoints collapse to the single
    # slope, mirroring the lo endpoint.
    _write_orders(spark, tmp_path, [(1, 100), (3, 500)])  # one pair: 200/day
    trow = theil_sen_daily_slope(spark, str(tmp_path)).collect()[0]
    assert trow["n_pairs"] == 1
    assert trow["slope_micro_per_day"] == 200_000_000
    assert trow["slope_lo_micro"] == 200_000_000
    assert trow["slope_hi_micro"] == 200_000_000
