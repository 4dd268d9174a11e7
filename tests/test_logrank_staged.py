"""Log-rank two-sample survival test (STAGED for r14).

Oracle differential (tests/test_queries_oracle.py), an independent Python
recompute of the pooled-step risk sets + floor-ppm expectation/variance
quantization + chi-square from the raw fixture, crafted corpora pinning a
maximal-separation battery (one cohort converts instantly, the other
never) and the degenerate one-cohort NULL-chi2 guard on both engines, and
the three-axis invariance contract (the split axis here, the conf axes in
tests/test_split_invariance.py).
"""

from __future__ import annotations

import math

import numpy as np

from talkinghead_datapipeline_spark.queries.behavior import (
    LOGRANK_ORACLE,
    logrank_segment_survival,
)


def test_matches_independent_python_recompute(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).toPandas()
    seg = {
        r["c_custkey"]: 1 if r["c_mktsegment"] < "F" else 0
        for r in load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment").collect()
    }
    unit = np.datetime_data(ev["ts"].dtype)[0]
    div = {"ns": 1000, "us": 1}[unit]
    ev["us"] = ev["ts"].astype("int64") // div
    g = ev.groupby("user_id")
    first, last = g["us"].min(), g["us"].max()
    buy = ev[ev.event_type == "purchase"].groupby("user_id")["us"].min()
    import collections

    h = collections.defaultdict(lambda: [0, 0, 0, 0])  # t -> h1 h0 d1 d0
    for uid in first.index:
        grp = seg[uid]
        b = buy.get(uid)
        t = int((int(b) if b == b and b is not None else int(last[uid]))
                - int(first[uid])) // 3_600_000_000
        h[t][0 if grp == 1 else 1] += 1
        if b == b and b is not None:
            h[t][2 if grp == 1 else 3] += 1
    tot1 = sum(v[0] for v in h.values())
    tot0 = sum(v[1] for v in h.values())
    seen1 = seen0 = 0
    n_steps = o1 = o0 = e1 = e0 = v = 0
    for t in sorted(h):
        h1, h0, d1, d0 = h[t]
        n1, n0 = tot1 - seen1, tot0 - seen0
        seen1 += h1
        seen0 += h0
        d, n = d1 + d0, n1 + n0
        if d == 0:
            continue
        n_steps += 1
        o1 += d1
        o0 += d0
        e1 += (d * n1 * 1_000_000) // n
        e0 += (d * n0 * 1_000_000) // n
        if n > 1:
            v += (d * n1 * n0 * (n - d) * 1_000_000) // (n * n * (n - 1))
    assert d * n1 * n0 * (n - d) * 1_000_000 < 2**63  # documented bound
    row = logrank_segment_survival(spark, sf_dir).collect()[0]
    assert (row["n_steps"], row["o1"], row["o0"]) == (n_steps, o1, o0)
    assert (row["e1_ppm"], row["e0_ppm"], row["v_ppm"]) == (e1, e0, v)
    if v > 0:
        num = float(o1 * 1_000_000 - e1)
        expect = math.floor(((num * num) / (float(v) * 1000000.0)) * 1000000.0)
        assert row["chi2_micro"] == expect
    else:
        assert row["chi2_micro"] is None


def _write(spark, tmp_path, events, customers):
    spark.createDataFrame(
        events,
        "event_id bigint, user_id bigint, event_type string, "
        "value double, ts timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    spark.createDataFrame(
        customers, "c_custkey bigint, c_mktsegment string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "customer.parquet")
    )


def test_crafted_maximal_separation(spark, tmp_path):
    import datetime as dt

    import duckdb

    t0 = dt.datetime(2026, 1, 1)
    # cohort 1 (AUTOMOBILE < 'F') converts at its first event; cohort 0
    # (MACHINERY) is observed for 5 hours and never converts
    events = [(i, i, "purchase", 1.0, t0) for i in range(5)]
    events += [
        (100 + 10 * i + j, 10 + i, "view", 1.0, t0 + dt.timedelta(hours=j))
        for i in range(5)
        for j in range(6)
    ]
    customers = [(i, "AUTOMOBILE") for i in range(5)]
    customers += [(10 + i, "MACHINERY") for i in range(5)]
    _write(spark, tmp_path, events, customers)
    row = logrank_segment_survival(spark, str(tmp_path)).collect()[0]
    # one pooled step at t=0: d1=5, d0=0, n1=n0=5
    assert row["n_steps"] == 1
    assert (row["o1"], row["o0"]) == (5, 0)
    assert row["e1_ppm"] == (5 * 5 * 1_000_000) // 10
    assert row["v_ppm"] == (5 * 5 * 5 * 5 * 1_000_000) // (10 * 10 * 9)
    assert row["chi2_micro"] is not None and row["chi2_micro"] > 3_840_000
    con = duckdb.connect()
    for t in ("events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{tmp_path}/{t}.parquet/*.parquet')"
        )
    o = con.execute(LOGRANK_ORACLE).fetchone()
    con.close()
    assert o == (
        row["n_steps"], row["o1"], row["o0"], row["e1_ppm"], row["e0_ppm"],
        row["v_ppm"], row["chi2_micro"],
    )


def test_crafted_single_cohort_null_guard(spark, tmp_path):
    import datetime as dt

    import duckdb

    t0 = dt.datetime(2026, 1, 1)
    # only cohort 1 exists -> n0 = 0 at every step -> v_ppm = 0 -> NULL chi2
    events = [(i, i, "purchase", 1.0, t0 + dt.timedelta(hours=i))
              for i in range(4)]
    customers = [(i, "AUTOMOBILE") for i in range(4)]
    _write(spark, tmp_path, events, customers)
    row = logrank_segment_survival(spark, str(tmp_path)).collect()[0]
    assert row["v_ppm"] == 0
    assert row["chi2_micro"] is None
    con = duckdb.connect()
    for t in ("events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{tmp_path}/{t}.parquet/*.parquet')"
        )
    o = con.execute(LOGRANK_ORACLE).fetchdf().iloc[0]
    con.close()
    assert int(o["v_ppm"]) == 0
    assert o["chi2_micro"] != o["chi2_micro"] or o["chi2_micro"] is None


def test_split_invariance_bit_exact(spark, sf_dir, tmp_path):
    from talkinghead_datapipeline_spark.catalog import load_table
    from tests.oracle_harness import assert_split_invariance

    # the query reads TWO tables; relay the dim unchanged so the helper's
    # 4-file events re-layout is the only axis that moves
    load_table(spark, sf_dir, "customer").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    assert_split_invariance(
        spark, sf_dir, tmp_path, logrank_segment_survival, "events"
    )
