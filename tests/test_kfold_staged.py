"""k-fold cross-validated linear regression (STAGED for r11 registration).

Oracle differential (tests/test_queries_oracle.py) plus the analytic pins
that make the query trustworthy beyond "two engines agree": the per-fold
coefficients must match an independent numpy least-squares fit on the same
train split, the expanded-quadratic held-out MSE must match a direct
residual computation, and the result must be invariant to the input file
layout (tests/test_split_invariance.py; the fixed-association exactness
claim is only real if a 4-split re-layout reproduces every micro unit
bit-for-bit).
"""

from __future__ import annotations

import numpy as np

from talkinghead_datapipeline_spark.queries.mlstats import kfold_linreg_cv


def _folds_numpy(spark, sf_dir):
    """Independent recomputation: fold assignment via the same portable
    hash, then per-fold numpy lstsq + direct residual MSE."""
    import pyspark.sql.functions as F

    from talkinghead_datapipeline_spark.catalog import load_table
    from talkinghead_datapipeline_spark.functions.portable import md5_hash

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    pdf = docs.select(
        (md5_hash(F.concat(F.lit("kf"), F.col("doc_id").cast("string")), 8) % 5).alias(
            "fold"
        ),
        F.col("n_chars").cast("double").alias("x"),
        F.size(F.split(F.col("text"), r"\s+")).cast("double").alias("y"),
    ).toPandas()
    out = {}
    for k in sorted(pdf["fold"].unique()):
        tr = pdf[pdf["fold"] != k]
        va = pdf[pdf["fold"] == k]
        A = np.stack([np.ones(len(tr)), tr["x"].to_numpy()], axis=1)
        beta, *_ = np.linalg.lstsq(A, tr["y"].to_numpy(), rcond=None)
        resid = va["y"].to_numpy() - (beta[0] + beta[1] * va["x"].to_numpy())
        out[int(k)] = (len(tr), len(va), beta[0], beta[1],
                       float(np.mean(resid**2)))
    return out

def test_matches_independent_numpy_fit(spark, sf_dir):
    want = _folds_numpy(spark, sf_dir)
    got = {r.fold: r for r in kfold_linreg_cv(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for k, (n_tr, n_va, b0, b1, mse) in want.items():
        r = got[k]
        assert r.n_train == n_tr and r.n_val == n_va
        # floor-micro vs float64 lstsq: agree within one micro unit plus
        # the solver's own tolerance
        assert abs(r.beta0_micro - b0 * 1e6) < 10, (k, r.beta0_micro, b0)
        assert abs(r.beta1_micro - b1 * 1e6) < 10, (k, r.beta1_micro, b1)
        assert abs(r.val_mse_micro - mse * 1e6) < 10, (k, r.val_mse_micro, mse)
