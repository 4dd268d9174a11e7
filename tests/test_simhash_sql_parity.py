"""simhash32_sql is a build-cost twin of simhash32, nothing more: the SQL
string must RESOLVE to the identical expression tree (so the registered
simhash queries kept their exact semantics when they switched to it for the
~250-round-trip py4j saving), and the fingerprints must be bit-equal."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.operators import dedup as D
from tests.conftest import TEST_SF_DIR


def _normalized_analyzed(df) -> str:
    """Analyzed plan with auto-generated lambda-variable names and expr ids
    normalized — Spark uniquifies Column-API lambda args (``lambda x_42``),
    SQL keeps the written names; evaluation is name-independent."""
    p = df._jdf.queryExecution().analyzed().toString()
    p = re.sub(r"lambda '?[a-z]+_?\d*", "lambda V", p)
    p = re.sub(r"#\d+", "#N", p)
    return p


def test_simhash_sql_twin_tree_identical(spark, sf_dir):
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    col_form = docs.select(D.simhash32(F.col("text")).alias("s"))
    sql_form = docs.select(F.expr(D.simhash32_sql()).alias("s"))
    assert _normalized_analyzed(col_form) == _normalized_analyzed(sql_form)


def test_simhash_sql_twin_results_bit_equal(spark, sf_dir):
    docs = spark.read.parquet(f"{TEST_SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    col_rows = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", D.simhash32(F.col("text")).alias("s")
        ).collect()
    }
    sql_rows = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", F.expr(D.simhash32_sql()).alias("s")
        ).collect()
    }
    assert col_rows == sql_rows
    assert len(col_rows) == docs.count()
