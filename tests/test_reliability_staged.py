"""Reliability / calibration bins (STAGED for r12).

Oracle differential (tests/test_queries_oracle.py) plus a numpy
cross-check of every ppm column from the raw (b, y) pairs, the
Murphy-decomposition identity the rel/brier terms feed, and the three-axis
invariance contract (tests/test_split_invariance.py; exact-integer
pipeline — bit-for-bit under re-layout, shuffle partitions, AQE).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.mlstats import (
    reliability_bins_lang,
)


def test_matches_numpy_definition(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            (F.col("n_chars") % 100).alias("b"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .toPandas()
    )
    b = pdf["b"].to_numpy(dtype=np.int64)
    y = pdf["y"].to_numpy(dtype=np.int64)
    rows = {r["bin"]: r for r in reliability_bins_lang(spark, sf_dir).collect()}
    assert set(rows) == set(np.unique(b // 10).tolist())
    for k, r in rows.items():
        m = (b // 10) == k
        n, n_pos, s = int(m.sum()), int(y[m].sum()), int(b[m].sum())
        sq = int(((b[m] - 100 * y[m]) ** 2).sum())
        assert r["n"] == n and r["n_pos"] == n_pos
        assert r["mean_pred_ppm"] == s * 10000 // n
        assert r["emp_rate_ppm"] == n_pos * 1000000 // n
        assert r["gap_ppm"] == s * 10000 // n - n_pos * 1000000 // n
        assert r["rel_term_ppm"] == (s - 100 * n_pos) ** 2 * 100 // n
        assert r["brier_bin_ppm"] == sq * 100 // n
        # Murphy sanity on the EXACT rationals these ppms floor: the bin's
        # Brier term decomposes as mean((p-y)^2) = (p̄-ō)^2 + Var(p) +
        # ō(1-ō) - 2Cov(p,y); check the reliability summand n·(p̄-ō)^2
        # never exceeds the bin's total squared error n·mean((p-y)^2)
        # (Cauchy-Schwarz on the decomposition).
        assert (s - 100 * n_pos) ** 2 <= sq * n


def test_degenerate_empty_bin_handling(spark, tmp_path):
    """A corpus whose scores land in ONE decile yields exactly one row —
    absent bins are absent, not zero-filled (both engines agree)."""
    spark.createDataFrame(
        [(i, "x" * (200 + i % 10), "en", "s", 200 + i % 10) for i in range(20)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = reliability_bins_lang(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["bin"] == 0  # b = n_chars % 100 in 0..9
    assert out[0]["emp_rate_ppm"] == 1000000  # all positive
