"""Power-iteration PCA over document features (STAGED for r11).

Oracle differential (tests/test_queries_oracle.py) plus the analytic pins
behind the staging comment's claims: the 3-step iterate must align with
numpy's exact top eigenvector (the eigengap-dominance claim), the eigengap
itself must stay large enough on the fixtures for that claim to keep
holding, the sign anchor must sit far from its boundary, and a 4-split
re-layout (tests/test_split_invariance.py) must reproduce every micro unit
exactly (the shared-expression bit-identity claim).
"""

from __future__ import annotations

import numpy as np

from talkinghead_datapipeline_spark.queries.mlstats import (
    pca_power_doc_features,
)


def _features_numpy(spark, sf_dir):
    import pyspark.sql.functions as F

    from talkinghead_datapipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    pdf = docs.select(
        F.col("n_chars").cast("double").alias("x1"),
        F.size(F.split(F.col("text"), r"\s+")).cast("double").alias("x2"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        ).cast("double").alias("x3"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("double")
        .alias("x4"),
    ).toPandas()
    return pdf.to_numpy()


def test_converges_to_numpy_top_eigvec(spark, sf_dir):
    X = _features_numpy(spark, sf_dir)
    C = np.cov(X, rowvar=False)
    evals, evecs = np.linalg.eigh(C)
    top = evecs[:, -1]
    row = pca_power_doc_features(spark, sf_dir).first()
    v = np.array(
        [row.loading1_micro, row.loading2_micro,
         row.loading3_micro, row.loading4_micro],
        dtype=np.float64,
    ) / 1e6
    # unit-ish (floor-micro truncation only)
    assert abs(np.linalg.norm(v) - 1.0) < 1e-5
    # floor-micro truncation of 4 components costs up to ~2e-6 in the
    # dot product; the convergence residual itself is ~(l2/l1)^3 ~ 1e-11
    assert abs(abs(v @ top) - 1.0) < 5e-6, (v, top)
    assert abs(row.lambda1_micro / 1e6 - evals[-1]) < evals[-1] * 1e-6


def test_eigengap_keeps_convergence_claim_valid(spark, sf_dir):
    """The 3-iteration convergence argument needs lambda1 >> lambda2
    ((l2/l1)^3 residual). Pin the measured dominance so a future fixture
    regeneration that flattens the spectrum fails HERE, not as a silent
    drift of the certified output's meaning."""
    X = _features_numpy(spark, sf_dir)
    evals = np.linalg.eigvalsh(np.cov(X, rowvar=False))
    assert evals[-1] / max(evals[-2], 1e-300) > 100


def test_sign_anchor_far_from_boundary(spark, sf_dir):
    """The sign fix anchors on the n_chars loading; it must stay far from
    zero (measured ~0.76 on every fixture SF)."""
    row = pca_power_doc_features(spark, sf_dir).first()
    assert row.loading1_micro > 500_000


def test_plan_is_one_reduce_plus_scalar_dag(spark, sf_dir):
    """Pin the docstring's scale claim: the data pass is ONE map-side-
    combinable 15-stat aggregation over a 2-column pruned scan; the
    covariance + all three power-iteration steps are projections on the
    1-row result (no further exchange, no window, no join)."""
    plan = (
        pca_power_doc_features(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .treeString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "partial_sum" in plan
    assert "ReadSchema: struct<text:string,n_chars:bigint>" in plan
    for bad in ("Window", "Join", "Sort"):
        assert bad not in plan, f"unexpected {bad} in plan"
