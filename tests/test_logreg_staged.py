"""Newton/IRLS logistic regression (STAGED for r9 registration).

Oracle differential (tests/test_queries_oracle.py) plus the analytic pins
that make the 3-step Newton trustworthy beyond "two engines agree": on a
synthetic corpus with a known closed-form optimum the fitted coefficients
must land on it.
"""

from __future__ import annotations

import math

import pytest

from talkinghead_datapipeline_spark.queries.mlstats import (
    LOGREG_NEWTON_ORACLE,
    logreg_newton_lang,
)


def test_intercept_only_closed_form(spark, tmp_path):
    """With a constant feature x = c the slope direction is degenerate but
    Newton on (b0, b1) still solves the intercept-only problem along
    b0 + b1*c: the fitted log-odds b0 + b1*c must equal logit(mean(y)) —
    the closed-form MLE — to float precision after 3 steps.

    (x constant makes the Hessian singular in exact arithmetic; use two
    x values and y independent of x instead, so the optimum is exactly
    intercept-only: b1 = 0, b0 = logit(p).)"""
    rows = []
    # y=1 with probability 3/4 at BOTH x values -> b1* = 0, b0* = log(3)
    for x in (0.1, 0.5):
        rows += [(1.0, x)] * 30 + [(0.0, x)] * 10
    pdf = spark.createDataFrame(rows, "y double, x double")
    d = str(tmp_path / "documents.parquet")
    # reuse the production query by materializing a documents-shaped table
    pdf.selectExpr(
        "CASE WHEN y = 1.0 THEN 'en' ELSE 'de' END AS lang",
        "CAST(x * 1000 AS BIGINT) AS n_chars",
        "monotonically_increasing_id() AS doc_id",
        "'t' AS text",
        "'s' AS source",
    ).coalesce(1).write.mode("overwrite").parquet(d)
    out = logreg_newton_lang(spark, str(tmp_path)).first()
    logit = out.beta0 + out.beta1 * 0.3  # log-odds at the mean feature
    assert math.isclose(logit, math.log(3.0), rel_tol=0, abs_tol=5e-4)
    assert abs(out.beta1) < 2e-3  # slope ~0: y independent of x
    assert out.n_docs == 80


def test_boundary_margins_comfortable(spark, sf_dir):
    """The round(,6) cells must sit far from their rounding boundaries
    relative to the measured cross-engine/layout divergence (~1e-12):
    re-derive the unrounded coefficients from the oracle and assert
    margin >= 1e-9 (1000x the divergence), the covariance-audit floor."""
    import duckdb

    from talkinghead_datapipeline_spark.catalog import table_path

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
        % table_path(sf_dir, "documents")
    )
    raw_sql = LOGREG_NEWTON_ORACLE.replace(
        "round(b0, 6) AS beta0, round(b1, 6) AS beta1", "b0 AS beta0, b1 AS beta1"
    )
    # replace() must not silently no-op (a reworded SELECT would leave the
    # rounded query in place and this audit would pass vacuously)
    assert raw_sql != LOGREG_NEWTON_ORACLE
    b0, b1, _ = con.execute(raw_sql).fetchone()
    for v in (b0, b1):
        scaled = abs(v) * 1e6
        margin = abs(scaled - math.floor(scaled) - 0.5)
        assert margin * 1e-6 >= 1e-9, f"{v} is {margin * 1e-6} from a boundary"


def test_split_invariance(spark, sf_dir, tmp_path):
    """Same convention as tests/test_split_invariance.py, applied to the
    staged query before it reaches the registry: a 4-file shuffled
    re-write of documents must reproduce the rounded coefficients exactly
    (the per-iteration sums ARE accumulation-order-dependent; the
    audited round(,6) margins absorb it)."""
    from talkinghead_datapipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "documents").repartition(4).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    base = logreg_newton_lang(spark, sf_dir).toPandas()
    split = logreg_newton_lang(spark, str(tmp_path)).toPandas()
    assert base.equals(split)


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
