"""Nelson-Aalen time-to-purchase hazard (STAGED for r11).

Oracle differential (tests/test_queries_oracle.py) plus the pins that make
the risk-set estimator trustworthy beyond "two engines agree": a
brute-force recomputation of every risk set from the raw per-user data, a
synthetic censoring case (a user who never purchases must appear in risk
sets up to their observed time but never as an event), and the three
invariance axes bit-exact (tests/test_split_invariance.py).
"""

from __future__ import annotations

from talkinghead_datapipeline_spark.queries.behavior import (
    nelson_aalen_conversion_hazard,
)


def test_matches_bruteforce_risk_sets(spark, sf_dir):
    """Recompute every (t, d, n_at_risk) from the raw user observations in
    plain Python and pin the exact integer hazard identities."""
    import pyspark.sql.functions as F

    from talkinghead_datapipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    pdf = (
        ev.groupBy("user_id")
        .agg(
            F.min(us).alias("first_us"),
            F.max(us).alias("last_us"),
            F.min(F.when(F.col("event_type") == "purchase", us)).alias(
                "buy_us"
            ),
        )
        .toPandas()
    )
    obs = []  # (t_hours, is_event)
    for _, r in pdf.iterrows():
        end = r.buy_us if r.buy_us == r.buy_us and r.buy_us is not None else r.last_us
        obs.append((int((end - r.first_us) // 3_600_000_000),
                    r.buy_us == r.buy_us and r.buy_us is not None))
    rows = nelson_aalen_conversion_hazard(spark, sf_dir).collect()
    cum = 0
    for row in rows:
        d = sum(1 for t, e in obs if e and t == row.t_hours)
        n = sum(1 for t, _ in obs if t >= row.t_hours)
        assert d > 0 and row.d_events == d, (row, d)
        assert row.n_at_risk == n, (row, n)
        assert row.hazard_ppm == (d * 1_000_000) // n
        cum += row.hazard_ppm
        assert row.cum_hazard_ppm == cum
    # every event time with d>0 appears
    assert len(rows) == len({t for t, e in obs if e})


def test_censored_user_in_risk_set_not_events(spark, tmp_path):
    """Three users: A buys at +1h, B buys at +3h, C never buys and is last
    seen at +2h. C must count in the risk sets at t=1 (n=3) but be gone
    by t=3 (n=1), and contribute zero events anywhere."""
    base = 1_700_000_000_000_000  # µs
    H = 3_600_000_000
    rows = [
        (1, "A", "view", base), (2, "A", "purchase", base + 1 * H),
        (3, "B", "view", base), (4, "B", "purchase", base + 3 * H),
        (5, "C", "view", base), (6, "C", "view", base + 2 * H),
    ]
    spark.createDataFrame(
        [(i, u, t, ts) for i, u, t, ts in rows],
        "event_id bigint, user_id string, event_type string, _us bigint",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "timestamp_micros(_us) AS ts", "CAST(1.0 AS DOUBLE) AS value",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {r.t_hours: r for r in
           nelson_aalen_conversion_hazard(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 3}
    assert out[1].d_events == 1 and out[1].n_at_risk == 3
    assert out[3].d_events == 1 and out[3].n_at_risk == 1
    assert out[1].hazard_ppm == 333_333
    assert out[3].hazard_ppm == 1_000_000
    assert out[3].cum_hazard_ppm == 1_333_333
