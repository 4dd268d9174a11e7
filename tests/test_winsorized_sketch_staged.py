"""Per-group certified sketch bounds (STAGED for r9 registration) — the
at-scale half of the winsorized_price_stats adjudication."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.dataprep import (
    winsorized_bounds_sketch_certified,
)


def test_contract_check_can_fail(spark, sf_dir):
    """The certification must be falsifiable: feeding a deliberately
    broken 'sketch' value (the group max, rank ~n, claimed as p01)
    through the same rank-window check must flag 0 — proving the
    within_bounds columns measure the data, not the construction."""
    from talkinghead_datapipeline_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    fake = li.groupBy("l_returnflag").agg(
        F.max("l_extendedprice").alias("fake_lo"),
        F.count("l_extendedprice").cast("double").alias("n"),
    )
    eps = 1.0 / 10_000
    checked = (
        li.join(F.broadcast(fake), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("n").alias("n"),
            F.sum((F.col("l_extendedprice") < F.col("fake_lo")).cast("double")).alias(
                "lt"
            ),
            F.sum(
                (F.col("l_extendedprice") <= F.col("fake_lo")).cast("double")
            ).alias("le"),
        )
        .select(
            (
                (F.col("lt") < (0.01 + eps) * F.col("n"))
                & (F.col("le") >= (0.01 - eps) * F.col("n"))
            )
            .cast("bigint")
            .alias("flag")
        )
    )
    assert [r.flag for r in checked.collect()] == [0, 0, 0]


def test_plan_broadcasts_bounds(spark, sf_dir):
    plan = (
        winsorized_bounds_sketch_certified(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_outputs_are_exact_integers_not_rounded_doubles(spark, sf_dir):
    """Regression pin for the half-cent tie the r8 margin audit caught:
    the N group's p99 at sf0.01 is 104004.635 — the scaled double lands
    exactly ON the rounding boundary, where Spark F.round and DuckDB
    round (different functions at .5 ties) only agree by the accident of
    this value's binary expansion sitting above the tie. The staged query
    therefore emits floor-to-BIGINT cents; this pins the integer dtypes
    so a refactor back to round(,2) doubles fails loudly. (The REGISTERED
    winsorized_price_stats migrated to the same floor-cents convention in
    round 9, with its re-seat.)"""
    schema = dict(winsorized_bounds_sketch_certified(spark, sf_dir).dtypes)
    for c in ("p01_exact_cents", "p99_exact_cents", "n_rows",
              "lo_within_bounds", "hi_within_bounds"):
        assert schema[c] == "bigint", (c, schema[c])


def test_split_invariance(spark, sf_dir, tmp_path):
    """The sketch itself may vary with merge order in principle, but the
    OUTPUT may not: exact quantiles are order-free and the flags must be
    1 under any layout for the contract to be certifiable at scale."""
    from talkinghead_datapipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "lineitem").repartition(4).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    canon = lambda pdf: (
        pdf[sorted(pdf.columns)]
        .sort_values(sorted(pdf.columns))
        .reset_index(drop=True)
    )
    base = canon(winsorized_bounds_sketch_certified(spark, sf_dir).toPandas())
    split = canon(
        winsorized_bounds_sketch_certified(spark, str(tmp_path)).toPandas()
    )
    assert base.equals(split)


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
