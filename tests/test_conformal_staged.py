"""Split-conformal interval calibration (STAGED for r13).

Oracle differential (tests/test_queries_oracle.py), a numpy recomputation
of the exact conformal quantile and test-half coverage per lang, a crafted
corpus that pins the k-rank boundary (n_cal = 19 admitted, n_cal = 18
excluded) and a hand-derivable q-hat, the order-statistic minimality
property, and the three-axis invariance contract
(tests/test_split_invariance.py; fully integer pipeline).
"""

from __future__ import annotations

import math

import numpy as np

from talkinghead_datapipeline_spark.queries.mlstats import (
    conformal_coverage_lang,
)


def test_matches_numpy_recompute(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).toPandas()
    out = {r["lang"]: r for r in conformal_coverage_lang(spark, sf_dir).collect()}
    cal = pdf[pdf.doc_id % 2 == 0]
    tst = pdf[pdf.doc_id % 2 == 1]
    for lang, g in cal.groupby("lang"):
        n_cal = len(g)
        if n_cal < 19:
            assert lang not in out
            continue
        pred = int(g.n_chars.sum()) // n_cal
        k = math.ceil(0.9 * (n_cal + 1))
        r = np.sort(np.abs(g.n_chars.to_numpy() - pred))
        q_hat = int(r[k - 1])  # exact k-th smallest, ties included
        row = out[lang]
        assert row["n_cal"] == n_cal and row["pred"] == pred
        assert row["k_rank"] == k
        assert row["q_hat"] == q_hat
        # minimality: q_hat is the SMALLEST value reaching rank k
        assert int((r <= q_hat).sum()) >= k
        assert int((r < q_hat).sum()) < k
        t = tst[tst.lang == lang]
        covered = int((np.abs(t.n_chars.to_numpy() - pred) <= q_hat).sum())
        assert row["n_test"] == len(t)
        assert row["n_covered"] == covered
        assert row["coverage_ppm"] == covered * 1_000_000 // len(t)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def test_crafted_corpus_exact(spark, tmp_path):
    # lang 'aa': 19 calibration docs (even doc_id), n_chars = 100 + i for
    # i in 0..18 -> sum = 2071, pred = 2071 // 19 = 109 exactly;
    # nonconformities |100+i - 109| form the multiset {0, 1,1, ..., 8,8,
    # 9,9}; k = ceil(0.9*20) = 18, and the 18th smallest (index 17 of the
    # sorted 19) is 9.
    rows = []
    for i in range(19):
        rows.append((2 * i, "x", "aa", "s", 100 + i))
    # 4 test docs (odd doc_id): r = 8, 8, 10, 0 -> the r=10 one is the
    # only point outside pred +/- q_hat
    for j, nc in enumerate([101, 117, 119, 109]):
        rows.append((101 + 2 * j, "x", "aa", "s", nc))
    # lang 'bb': only 18 calibration docs -> excluded by the n_cal guard
    for i in range(18):
        rows.append((1000 + 2 * i, "x", "bb", "s", 50))
    rows.append((2001, "x", "bb", "s", 50))
    _write_docs(spark, tmp_path, rows)
    out = {r["lang"]: r for r in
           conformal_coverage_lang(spark, str(tmp_path)).collect()}
    assert set(out) == {"aa"}
    row = out["aa"]
    assert row["n_cal"] == 19 and row["pred"] == 109
    assert row["k_rank"] == 18
    assert row["q_hat"] == 9
    assert row["n_test"] == 4 and row["n_covered"] == 3
    assert row["coverage_ppm"] == 3 * 1_000_000 // 4


def test_k_rank_integer_formula_is_ceil():
    # the BIGINT expression (9*(n+1)+9) div 10 must equal ceil(0.9*(n+1))
    # on every admissible n (exact rational ceil, no float drift)
    for n in range(19, 5000):
        assert (9 * (n + 1) + 9) // 10 == math.ceil((9 * (n + 1)) / 10) == -((-9 * (n + 1)) // 10)
