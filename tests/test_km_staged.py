"""Kaplan-Meier product-limit survival (STAGED for r14).

Oracle differential (tests/test_queries_oracle.py), an independent Python
recompute of the exact integer recurrence from the raw fixture (a
different code path than both engines' folds), crafted corpora pinning the
everyone-converts-at-0 (S=0 first step) and nobody-converts (empty curve)
boundaries on both engines, the monotonicity + range contract, and the
three-axis invariance contract (tests/test_split_invariance.py; integer
end-to-end: no float op anywhere).
"""

from __future__ import annotations

import numpy as np

from talkinghead_datapipeline_spark.queries.behavior import (
    KAPLAN_MEIER_ORACLE,
    kaplan_meier_survival,
)


def _assert_no_overflow(rows):
    """The bound kaplan_meier_survival's comment states: every fold
    intermediate S·(n − d) is below 10^9 · n_at_risk, so it fits a BIGINT.
    A corpus without event steps runs no fold (max over no steps is 0)."""
    assert 10**9 * max((r["n_at_risk"] for r in rows), default=0) < 2**63


def test_matches_independent_python_fold(spark, sf_dir):
    """Recompute the whole estimator from the raw events fixture in plain
    Python (pandas groupby + explicit loop fold) and demand bit-equality
    with the Spark output — exercises the risk-set arithmetic AND the
    integer recurrence through a third, non-SQL code path."""
    from talkinghead_datapipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).toPandas()
    # ts arrives as datetime64[us] or [ns] depending on the fixture read;
    # normalize to micros explicitly
    unit = np.datetime_data(ev["ts"].dtype)[0]
    div = {"ns": 1000, "us": 1}[unit]
    ev["us"] = ev["ts"].astype("int64") // div
    g = ev.groupby("user_id")
    first = g["us"].min()
    last = g["us"].max()
    buy = ev[ev.event_type == "purchase"].groupby("user_id")["us"].min()
    obs_t = ((buy.reindex(first.index).fillna(last)).astype("int64")
             - first) // 3_600_000_000
    event = buy.reindex(first.index).notna()
    import collections

    n_here = collections.Counter(obs_t)
    d_ev = collections.Counter(obs_t[event])
    total = len(first)
    expect = []
    s = 1_000_000_000
    seen = 0
    for t in sorted(n_here):
        n_at_risk = total - seen
        seen += n_here[t]
        d = d_ev.get(t, 0)
        if d > 0:
            s = (s * (n_at_risk - d)) // n_at_risk
            expect.append((int(t), int(d), int(n_at_risk), int(s)))
    rows = kaplan_meier_survival(spark, sf_dir).collect()
    _assert_no_overflow(rows)
    got = [(r["t_hours"], r["d_events"], r["n_at_risk"], r["km_survival_ppb"]) for r in rows]
    assert got == expect


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string, "
        "value double, ts timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )


def test_crafted_boundaries(spark, tmp_path):
    import datetime as dt

    import duckdb

    t0 = dt.datetime(2026, 1, 1)

    # corpus A: every user purchases at their first event -> one step at
    # t=0 with d=n -> S goes straight to 0
    _write_events(
        spark, tmp_path,
        [(i, i, "purchase", 1.0, t0) for i in range(5)],
    )
    rows = kaplan_meier_survival(spark, str(tmp_path)).collect()
    _assert_no_overflow(rows)
    assert len(rows) == 1
    assert rows[0]["t_hours"] == 0
    assert rows[0]["n_at_risk"] == 5 and rows[0]["d_events"] == 5
    assert rows[0]["km_survival_ppb"] == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{tmp_path}/events.parquet/*.parquet')"
    )
    o = con.execute(KAPLAN_MEIER_ORACLE).fetchall()
    assert o == [(0, 5, 5, 0)]
    con.close()

    # corpus B: nobody purchases -> zero steps on both engines
    _write_events(
        spark, tmp_path,
        [(i, i, "view", 1.0, t0 + dt.timedelta(hours=i)) for i in range(5)],
    )
    rows = kaplan_meier_survival(spark, str(tmp_path)).collect()
    _assert_no_overflow(rows)
    assert rows == []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{tmp_path}/events.parquet/*.parquet')"
    )
    assert con.execute(KAPLAN_MEIER_ORACLE).fetchall() == []
    con.close()


def test_curve_contract(spark, sf_dir):
    """S is in [0, 1e9], non-increasing in t, and each step's factor is the
    exact floor of the rational product step (recomputed row-to-row)."""
    rows = kaplan_meier_survival(spark, sf_dir).collect()
    assert rows, "fixture must produce at least one event step"
    prev = 1_000_000_000
    for r in rows:
        s = r["km_survival_ppb"]
        assert 0 <= s <= prev
        assert s == (prev * (r["n_at_risk"] - r["d_events"])) // r["n_at_risk"]
        prev = s
