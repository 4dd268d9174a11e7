"""Binary-segmentation changepoint over daily revenue (STAGED for r11).

Oracle differential (tests/test_queries_oracle.py) plus the pins that make
the argmax trustworthy: a brute-force recomputation of the best split from
the raw daily sums (the SSE identity), a synthetic step-change series
whose break the query must find exactly, and the three invariance axes
bit-exact (tests/test_split_invariance.py).
"""

from __future__ import annotations

import pandas as pd

from talkinghead_datapipeline_spark.queries.timeseries import (
    changepoint_daily_revenue,
)


def test_matches_bruteforce_argmax(spark, sf_dir):
    import pyspark.sql.functions as F

    from talkinghead_datapipeline_spark.catalog import load_table

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "s"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .toPandas()
        .sort_values("d")
        .reset_index(drop=True)
    )
    S, N = int(daily["s"].sum()), int(daily["n"].sum())
    best = None
    sl = nl = 0
    for _, r in daily.iterrows():
        sl += int(r.s)
        nl += int(r.n)
        if nl == N:
            break
        score = sl * sl / nl + (S - sl) ** 2 / (N - nl)
        # strict >: ties keep the EARLIEST date, matching the tiebreak
        if best is None or score > best[0]:
            best = (score, r.d, sl, nl)
    row = changepoint_daily_revenue(spark, sf_dir).first()
    assert row.split_date == best[1].isoformat()
    assert row.n_left == best[3] and row.n_right == N - best[3]
    assert row.mean_left_micro == (best[2] * 10000) // best[3]
    assert row.mean_right_micro == ((S - best[2]) * 10000) // (N - best[3])
    assert row.gain_per_order_c2 >= 0


def test_finds_synthetic_step_change(spark, tmp_path):
    """60 days of cheap orders then 40 days of 10x orders: the split must
    land exactly on the last cheap day."""
    rows = []
    key = 0
    for day in range(100):
        price = 100.0 if day < 60 else 1000.0
        for _ in range(3):
            key += 1
            ts = pd.Timestamp("2024-01-01") + pd.Timedelta(days=day)
            rows.append((key, key, "O", price, ts.to_pydatetime()))
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "'1-URGENT' AS o_orderpriority",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    row = changepoint_daily_revenue(spark, str(tmp_path)).first()
    assert row.split_date == "2024-02-29"  # day 59, the last cheap day
    assert row.n_left == 180 and row.n_right == 120
    assert row.mean_left_micro == 100_000_000
    assert row.mean_right_micro == 1_000_000_000
