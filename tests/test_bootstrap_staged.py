"""Poisson-bootstrap CI (STAGED for r9 registration)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.mlstats import (
    _BOOT_B,
    bootstrap_ci_order_value,
    poisson_bootstrap_weight,
)


def test_ci_brackets_mean_and_is_ordered(spark, sf_dir):
    """Statistical sanity: for group sizes in the hundreds+ the 95%
    bootstrap CI must be a proper interval around (or at least ordered
    against) the point estimate, and narrow relative to the mean."""
    for r in bootstrap_ci_order_value(spark, sf_dir).collect():
        assert r.ci_lo_micro < r.ci_hi_micro
        assert r.ci_lo_micro < r.mean_price_micro < r.ci_hi_micro
        assert (r.ci_hi_micro - r.ci_lo_micro) < 0.5 * r.mean_price_micro


def test_poisson_weights_mean_one(spark, sf_dir):
    """The weight generator must actually behave like Poisson(1): mean
    weight within 2% of 1 over all (row, replicate) draws — a corrupted
    CDF table or hash scaling would show up here long before it skewed a
    CI enough to notice. Exercises the PRODUCTION expression
    (poisson_bootstrap_weight), not a private copy."""
    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    rep = o.withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))))
    w = poisson_bootstrap_weight(F.col("b"), F.col("o_orderkey"))
    mean_w = rep.select(w.alias("w")).agg(F.avg("w")).first()[0]
    assert abs(mean_w - 1.0) < 0.02


def test_outputs_are_exact_integers_not_rounded_doubles(spark, sf_dir):
    """Regression pin for the boundary tie the r8 margin audit caught: a
    CI value landed exactly ON a 1e-6 half boundary (263222.4119375 at
    sf0.001), where Spark F.round and DuckDB round — DIFFERENT functions
    at .5 ties — may disagree even on bit-identical doubles. The fix is
    floor-to-BIGINT-micros (same function everywhere); this test pins the
    integer dtypes so a refactor back to round(,6) doubles fails loudly."""
    schema = dict(bootstrap_ci_order_value(spark, sf_dir).dtypes)
    for c in ("mean_price_micro", "ci_lo_micro", "ci_hi_micro", "n_orders"):
        assert schema[c] == "bigint", (c, schema[c])


def test_split_invariance(spark, sf_dir, tmp_path):
    """Fully exact by construction (hash-driven integer weights, BIGINT
    cent sums, single-division means): a 4-split re-write must reproduce
    the frame bit-for-bit, not merely within rounding."""
    from talkinghead_datapipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "orders").repartition(4).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    canon = lambda pdf: (
        pdf[sorted(pdf.columns)]
        .sort_values(sorted(pdf.columns))
        .reset_index(drop=True)
    )
    base = canon(bootstrap_ci_order_value(spark, sf_dir).toPandas())
    split = canon(bootstrap_ci_order_value(spark, str(tmp_path)).toPandas())
    assert base.equals(split)


def test_percentile_interpolation_bit_equal_cross_engine(spark):
    """Pin that Spark's percentile and DuckDB's quantile_cont compute the
    IDENTICAL IEEE interpolation over a replicate-mean-shaped multiset
    (ADVICE r8): the CI path's bit-identity claim rests on this, and a
    1-ulp interpolation difference could flip floor(m * 1e6) when a CI
    value sits within ~1e-4 micro-dollars of an integer boundary.

    The multiset is crafted hostile: B=32 non-dyadic doubles (thirds,
    sevenths, and cent-quotient values like the production means), so the
    p*(n-1) interpolation weights (0.025*31 = 0.775, itself non-dyadic)
    multiply values whose products are NOT exactly representable — any
    difference in the engines' interpolation expression shows up in the
    last ulp and fails the exact-bits compare."""
    import struct

    import duckdb

    vals = sorted(
        [100000.0 + k / 3.0 for k in range(11)]
        + [250000.0 + k / 7.0 for k in range(11)]
        + [(36703 * (k + 1) % 9999991) / 100.0 for k in range(10)]
    )
    assert len(vals) == _BOOT_B
    sdf = spark.createDataFrame([(v,) for v in vals], "m double")
    s_lo, s_hi = sdf.agg(
        F.percentile("m", F.lit(0.025)), F.percentile("m", F.lit(0.975))
    ).first()
    d_lo, d_hi = (
        duckdb.connect()
        .execute(
            "SELECT quantile_cont(m, 0.025), quantile_cont(m, 0.975) "
            "FROM (SELECT unnest(?) AS m)",
            [vals],
        )
        .fetchone()
    )

    def bits(x: float) -> str:
        return struct.pack("<d", x).hex()

    assert bits(s_lo) == bits(d_lo), (s_lo, d_lo)
    assert bits(s_hi) == bits(d_hi), (s_hi, d_hi)


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))


def _physical_ops(df):
    """Operator-name sequence of the formatted physical plan (expression
    details stripped) — two plans with the same sequence have the same
    fan-out / aggregation / exchange structure."""
    import re

    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return re.findall(r"(?m)^\s*[*+\-: ]*([A-Za-z][A-Za-z0-9 ]*?) \(\d+\)\s*$", text)


def _replicate_means(spark, sf_dir, source):
    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    rep = o.withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))))
    w = poisson_bootstrap_weight(F.col("b"), F.col("o_orderkey"), source=source)
    return (
        rep.withColumn("wgt", w)
        .groupBy("o_orderpriority", "b")
        .agg(
            (
                F.sum(F.col("wgt") * F.col("cents")).cast("double")
                / (F.lit(100.0) * F.sum("wgt").cast("double"))
            ).alias("m")
        )
    )


def test_xxhash64_source_same_plan_shape(spark, sf_dir):
    """VERDICT r11 #7: the production uniform source (xxhash64, ~95x)
    must be a one-expression swap — identical physical operator sequence
    (same explode fan-out, same partial/final aggregation, same
    exchanges) as the oracle-replicable md5 path."""
    ops_md5 = _physical_ops(_replicate_means(spark, sf_dir, "md5"))
    ops_xxh = _physical_ops(_replicate_means(spark, sf_dir, "xxhash64"))
    assert ops_md5 == ops_xxh and "Generate" in " ".join(ops_md5)


def test_xxhash64_source_weight_moments(spark, sf_dir):
    """The xxhash64-sourced weights must be the same Poisson(1)
    estimator distributionally: mean within 2% of 1, variance within
    10% of 1, support inside {0..6} (the CDF table's truncation)."""
    from talkinghead_datapipeline_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    rep = o.withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))))
    w = poisson_bootstrap_weight(F.col("b"), F.col("o_orderkey"), source="xxhash64")
    stats = rep.select(w.alias("w")).agg(
        F.avg("w").alias("mean"),
        F.var_pop("w").alias("var"),
        F.min("w").alias("lo"),
        F.max("w").alias("hi"),
    ).first()
    assert abs(stats["mean"] - 1.0) < 0.02
    assert abs(stats["var"] - 1.0) < 0.10
    assert stats["lo"] >= 0 and stats["hi"] <= 6


def test_unknown_source_rejected():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown uniform source"):
        poisson_bootstrap_weight(F.lit(1), F.lit(1), source="sha1")
