"""k-anonymity audit (STAGED for r12).

Oracle differential (tests/test_queries_oracle.py), a pandas recomputation
of the full ladder from raw class sizes, a crafted corpus with
hand-countable equivalence classes, and the three-axis invariance contract
(tests/test_split_invariance.py; exact-integer pipeline).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.dataops import k_anonymity_audit


def test_matches_pandas_recount(spark, sf_dir):
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source", F.expr("n_chars div 100").alias("b"))
        .count()
        .toPandas()
    )
    sizes = pdf["count"].to_numpy()
    total = int(sizes.sum())
    rows = {r["k"]: r for r in k_anonymity_audit(spark, sf_dir).collect()}
    assert set(rows) == {2, 5, 10, 25}
    for k, r in rows.items():
        assert r["classes_below"] == int((sizes < k).sum())
        assert r["rows_below"] == int(sizes[sizes < k].sum())
        assert r["rows_below_ppm"] == r["rows_below"] * 1_000_000 // total
        assert r["total_rows"] == total
        assert r["total_classes"] == len(sizes)
        assert r["min_class_size"] == int(sizes.min())
    # the ladder is monotone in k by construction
    ks = sorted(rows)
    assert all(
        rows[a]["rows_below"] <= rows[b]["rows_below"]
        for a, b in zip(ks, ks[1:])
    )


def test_crafted_corpus_exact(spark, tmp_path):
    # classes: (en,s1,b0) size 1; (en,s1,b1) size 3; (fr,s2,b0) size 7
    rows = [(0, "x", "en", "s1", 10)]
    rows += [(1 + i, "x", "en", "s1", 150) for i in range(3)]
    rows += [(10 + i, "x", "fr", "s2", 20) for i in range(7)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["k"]: r for r in k_anonymity_audit(spark, str(tmp_path)).collect()}
    assert out[2]["classes_below"] == 1 and out[2]["rows_below"] == 1
    assert out[5]["classes_below"] == 2 and out[5]["rows_below"] == 4
    assert out[10]["classes_below"] == 3 and out[10]["rows_below"] == 11
    assert out[25]["rows_below_ppm"] == 1_000_000  # everything below k=25
    assert out[2]["min_class_size"] == 1 and out[2]["total_classes"] == 3
