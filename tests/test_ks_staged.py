"""Exact two-sample Kolmogorov-Smirnov statistic (STAGED for r12).

Oracle differential (tests/test_queries_oracle.py) plus a numpy
brute-force pin of the sup-distance and its witness, a crafted shift
corpus with a known exact D, and the three-axis invariance contract
(tests/test_split_invariance.py; exact-integer pipeline).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.stats_tests import (
    ks_two_sample_chars,
)


def test_matches_numpy_definition(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = (
        load_table(spark, sf_dir, "documents")
        .select("n_chars", (F.col("lang") == "en").cast("int").alias("y"))
        .toPandas()
    )
    a = np.sort(pdf.loc[pdf["y"] == 1, "n_chars"].to_numpy())
    b = np.sort(pdf.loc[pdf["y"] == 0, "n_chars"].to_numpy())
    xs = np.unique(np.concatenate([a, b]))
    f1 = np.searchsorted(a, xs, side="right")
    f2 = np.searchsorted(b, xs, side="right")
    d_num = np.abs(f1.astype(np.int64) * len(b) - f2.astype(np.int64) * len(a))
    row = ks_two_sample_chars(spark, sf_dir).first()
    assert row.n1 == len(a) and row.n2 == len(b)
    assert row.d_num == int(d_num.max())
    assert row.at_score == int(xs[d_num.argmax()])  # argmax = first max = min score
    assert row.d_ppm == int(d_num.max()) * 1_000_000 // (len(a) * len(b))


def test_known_shift_corpus(spark, tmp_path):
    """Disjoint supports: en all shorter than non-en → D = 1 exactly, and
    the witness is the largest en score (the last point where F1=1, F2=0
    — tiebreak picks the SMALLEST score among maxima, which is the first
    x with F1 at 1: score 14... the crafted corpus makes the max unique)."""
    rows = [(i, "x", "en", "s", 10 + i) for i in range(5)]          # 10..14
    rows += [(100 + i, "x", "fr", "s", 50 + i) for i in range(5)]   # 50..54
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    row = ks_two_sample_chars(spark, str(tmp_path)).first()
    assert (row.n1, row.n2) == (5, 5)
    assert row.d_num == 25 and row.d_ppm == 1_000_000  # D = 1
    assert row.at_score == 14  # smallest score achieving the max
