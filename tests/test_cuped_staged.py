"""CUPED variance-reduced A/B lift (STAGED for r13).

Oracle differential (tests/test_queries_oracle.py), a Fraction-exact
recomputation of theta / lifts / rho^2 from the per-user covariate frame,
a hand-built micro-corpus that pins the pre/post split and the
zero-activity user, and the three-axis invariance contract
(tests/test_split_invariance.py; every float is a single-row IEEE
expression over exact BIGINT sums, so all axes must be bit-exact).
"""

from __future__ import annotations

import datetime as dt
from fractions import Fraction

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.behavior import (
    _CUPED_CUT,
    cuped_adjusted_lift,
)


def _exact_cuped(xy):
    """Fraction-exact CUPED from a list of (cohort, x, y) tuples."""
    n = len(xy)
    sx = sum(x for _, x, _ in xy)
    sy = sum(y for _, _, y in xy)
    sxx = sum(x * x for _, x, _ in xy)
    sxy = sum(x * y for _, x, y in xy)
    syy = sum(y * y for _, _, y in xy)
    cov_n2 = Fraction(n * sxy - sx * sy)
    varx_n2 = Fraction(n * sxx - sx * sx)
    vary_n2 = Fraction(n * syy - sy * sy)
    n0 = sum(1 for c, _, _ in xy if c == 0)
    n1 = n - n0
    sx0 = sum(x for c, x, _ in xy if c == 0)
    sx1 = sx - sx0
    sy0 = sum(y for c, _, y in xy if c == 0)
    sy1 = sy - sy0
    theta = cov_n2 / varx_n2
    diff_raw = (Fraction(sy1, n1) - Fraction(sy0, n0)) / 100
    xdiff = (Fraction(sx1, n1) - Fraction(sx0, n0)) / 100
    return {
        "n_users": n,
        "n_control": n0,
        "n_treatment": n1,
        "theta": theta,
        "diff_raw": diff_raw,
        "diff_cuped": diff_raw - theta * xdiff,
        "var_reduction": cov_n2 * cov_n2 / (varx_n2 * vary_n2),
    }


def _assert_close(got, exact, tol=1e-6):
    # outputs are round(double, 6); the double expression sits within ULPs
    # of the Fraction value, so |got - exact| < 0.5e-6 + ulp slack
    assert abs(got - float(exact)) <= tol, (got, float(exact))


def test_matches_fraction_recompute(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table
    from talkinghead_datapipeline_spark.functions.geometry import round_half_away

    cut = F.lit(_CUPED_CUT).cast("timestamp")
    cents = round_half_away(F.col("value") * 100).cast("bigint")
    is_p = F.col("event_type") == "purchase"
    pdf = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(is_p & (F.col("ts") < cut), cents)), F.lit(0)).alias("x"),
            F.coalesce(F.sum(F.when(is_p & (F.col("ts") >= cut), cents)), F.lit(0)).alias("y"),
        )
        .toPandas()
    )
    xy = [
        (int(u) % 2, int(x), int(y))
        for u, x, y in zip(pdf["user_id"], pdf["x"], pdf["y"])
    ]
    want = _exact_cuped(xy)
    got = cuped_adjusted_lift(spark, sf_dir).collect()[0]
    assert got["n_users"] == want["n_users"]
    assert got["n_control"] == want["n_control"]
    assert got["n_treatment"] == want["n_treatment"]
    for k in ("theta", "diff_raw", "diff_cuped", "var_reduction"):
        _assert_close(got[k], want[k])
    # rho^2 is a squared correlation: always inside [0, 1]
    assert 0.0 <= got["var_reduction"] <= 1.0


def test_micro_corpus_semantics(spark, tmp_path):
    pre = dt.datetime(2024, 1, 10, 12, 0, 0)  # < 2024-01-16
    post = dt.datetime(2024, 1, 20, 12, 0, 0)  # >= 2024-01-16
    rows = []
    eid = 0
    # (user, pre_cents, post_cents); user 4 has NO purchases (x = y = 0)
    spec = {0: (100, 200), 1: (200, 500), 2: (300, 250), 3: (400, 700)}
    for u, (xc, yc) in spec.items():
        rows.append((eid, pre, u, "purchase", xc / 100.0, "{}")); eid += 1
        rows.append((eid, post, u, "purchase", yc / 100.0, "{}")); eid += 1
    rows.append((eid, pre, 4, "view", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    xy = [(u % 2, xc, yc) for u, (xc, yc) in spec.items()] + [(0, 0, 0)]
    want = _exact_cuped(xy)
    got = cuped_adjusted_lift(spark, str(tmp_path)).collect()[0]
    assert got["n_users"] == 5
    assert got["n_control"] == 3 and got["n_treatment"] == 2
    for k in ("theta", "diff_raw", "diff_cuped", "var_reduction"):
        _assert_close(got[k], want[k])
    # the boundary event lands in the POST window (ts >= cut): one purchase
    # exactly at the cut must move y, not x
    cutoff = dt.datetime(2024, 1, 16, 0, 0, 0)
    rows.append((eid + 1, cutoff, 4, "purchase", 1.00, "{}"))
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    xy2 = [(u % 2, xc, yc) for u, (xc, yc) in spec.items()] + [(0, 0, 100)]
    want2 = _exact_cuped(xy2)
    got2 = cuped_adjusted_lift(spark, str(tmp_path)).collect()[0]
    _assert_close(got2["diff_raw"], want2["diff_raw"])
    _assert_close(got2["theta"], want2["theta"])
