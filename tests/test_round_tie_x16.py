"""Adjudication of the ×16-regime window_rank_suite divergence (round 13).

The x16 full-registry differential (tools/differential.py, regime
x16) surfaced ONE new mismatch beyond the two long-adjudicated
classes: window_rank_suite's cume_dist column flips a round(x, 6) when a
rank ratio k/n lands EXACTLY on a half-way decimal (41/640 = 0.0640625 —
per-user event streams grow 16x, so n picks up factors of 2 that make
k/n terminate at 7 decimal digits). The engines then disagree BY DESIGN
of their round primitives:

- Spark: BigDecimal.valueOf(double) takes the SHORTEST decimal repr
  ("0.0640625"), then HALF_UP -> 0.064063;
- DuckDB: scales in float — the actual double is
  0.06406249999999999445 (below the tie), x*1e6 = 64062.4999... ->
  0.064062.

Neither is wrong about the double; they disagree about which question to
answer ("round the shortest repr" vs "round the binary value"). The
certified domain is unaffected: this test machine-checks that EVERY rank
ratio window_rank_suite can emit at the certified SFs (percent_rank
(k-1)/(n-1) and cume_dist k/n for every per-user n) rounds identically
under faithful models of both primitives — the same inactive-at-
certified-SF adjudication as the quantile-plateau pair
(tests/test_quantile_interp_boundary.py).
"""

from __future__ import annotations

import decimal
import math

import duckdb


def _spark_style_round6(v: float) -> float:
    """Spark Round: BigDecimal.valueOf(double) == Decimal(repr(v)) (both
    take the shortest decimal repr), then HALF_UP at 6 dp."""
    d = decimal.Decimal(repr(v)).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
    )
    return float(d)


def _duckdb_style_round6(v: float) -> float:
    """DuckDB round(DOUBLE, 6): scale in float, round half away from zero."""
    x = v * 1000000.0
    f = math.floor(x)
    return (f + 1 if x - f >= 0.5 else f) / 1000000.0


def test_primitive_divergence_reproduced():
    """Pin the exact mechanism: the 41/640 double rounds differently under
    the two primitives, and DuckDB's actual round() agrees with our model."""
    v = 41.0 / 640.0
    assert repr(v) == "0.0640625"  # shortest repr IS the tie
    assert v < 0.0640625 or decimal.Decimal(v) < decimal.Decimal(
        "0.0640625"
    )  # the binary value sits below it
    assert _spark_style_round6(v) == 0.064063
    assert _duckdb_style_round6(v) == 0.064062
    got = duckdb.connect().execute(
        "SELECT round(41.0/640.0, 6)"
    ).fetchone()[0]
    assert got == 0.064062


def test_certified_sf_rank_ratios_round_identically(spark):
    """Every percent_rank/cume_dist ratio the query can emit at the
    certified SFs rounds identically under both primitives — the
    divergence is a replication artifact, inactive on the certified
    domain."""
    from talkinghead_datapipeline_spark.catalog import load_table

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        counts = (
            load_table(spark, sf_dir, "events")
            .filter("user_id < 20")
            .groupBy("user_id")
            .count()
            .collect()
        )
        for row in counts:
            n = row["count"]
            for k in range(1, n + 1):
                for v in ((k - 1) / (n - 1) if n > 1 else 0.0, k / n):
                    assert _spark_style_round6(v) == _duckdb_style_round6(
                        v
                    ), (sf_dir, row["user_id"], k, n, v)
