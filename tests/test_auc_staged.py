"""Exact Mann-Whitney AUC (STAGED for r11).

Oracle differential (tests/test_queries_oracle.py) plus a brute-force pin:
the tie-corrected rank identity must equal the O(P*N) pairwise definition
AUC = (#{pos > neg} + 0.5 * #{pos == neg}) / (P*N) computed directly in
numpy, and a 4-split re-layout (tests/test_split_invariance.py) must
reproduce the exact integer statistic bit-for-bit.
"""

from __future__ import annotations

from talkinghead_datapipeline_spark.queries.mlstats import (
    auc_mann_whitney_lang,
)


def test_matches_pairwise_definition(spark, sf_dir):
    import pyspark.sql.functions as F

    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("n_chars").alias("score"),
            (F.col("lang") == "en").cast("int").alias("y"),
        )
        .toPandas()
    )
    pos = pdf.loc[pdf["y"] == 1, "score"].to_numpy()
    neg = pdf.loc[pdf["y"] == 0, "score"].to_numpy()
    gt = (pos[:, None] > neg[None, :]).sum()
    eq = (pos[:, None] == neg[None, :]).sum()
    row = auc_mann_whitney_lang(spark, sf_dir).first()
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    # 2U = 2*#{pos>neg} + #{pos==neg}, exactly
    assert row.two_u == 2 * int(gt) + int(eq)
    want_ppm = (row.two_u * 1_000_000) // (2 * len(pos) * len(neg))
    assert row.auc_ppm == want_ppm


def test_degenerate_single_class_yields_null(spark, tmp_path):
    """A corpus with only one class has no pairs to rank: auc_ppm must be
    NULL (nullif guard) on the Spark side, matching the oracle's NULL."""
    spark.createDataFrame(
        [(1, "en", "t", "s", 10)],
        "doc_id bigint, lang string, text string, source string, n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    row = auc_mann_whitney_lang(spark, str(tmp_path)).first()
    assert row.n_neg == 0 and row.auc_ppm is None
