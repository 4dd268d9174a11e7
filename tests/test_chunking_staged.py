"""Overlapping document chunking (STAGED for r9 registration)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.textops import doc_chunk_overlap


def test_grid_properties(spark, sf_dir):
    """Grid algebra asserted directly on the output: chunk k starts at
    1+150k; every chunk except a doc's last is exactly 200 chars; chunk
    count per doc is ceil(n_chars/150); reassembling the stride-150
    prefixes of the chunks reproduces the document."""
    out = doc_chunk_overlap(spark, sf_dir)
    bad_start = out.where(
        F.col("chunk_start") != 1 + 150 * F.col("chunk_id")
    ).count()
    assert bad_start == 0
    from talkinghead_datapipeline_spark.catalog import load_table as _lt

    nc = _lt(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # chunk_len == min(200, chars remaining): a short chunk must reach the
    # document's end exactly (several trailing chunks can be short — the
    # stride overlaps the tail — but none may stop early)
    bad_len = (
        out.join(nc, "doc_id")
        .where(
            F.col("chunk_len")
            != F.least(F.lit(200), F.col("n_chars") - F.col("chunk_start") + 1)
        )
        .count()
    )
    assert bad_len == 0
    # reassembly: the stride-150 prefixes concatenated in order == text
    reasm = (
        out.withColumn("piece", F.expr("substring(chunk_text, 1, 150)"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("chunk_id", "piece")))
                .getField("piece")
            ).alias("rebuilt")
        )
    )
    from talkinghead_datapipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mism = (
        reasm.join(docs, "doc_id").where(F.col("rebuilt") != F.col("text")).count()
    )
    assert mism == 0


def test_plan_is_map_only(spark, sf_dir):
    """Zero exchanges: scan -> generate(explode) -> project, with column
    pruning reaching the scan."""
    plan = (
        doc_chunk_overlap(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read and "n_chars" in read
    assert "lang" not in read and "source" not in read


def test_split_invariance(spark, sf_dir, tmp_path):
    from talkinghead_datapipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "documents").repartition(4).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    canon = lambda pdf: (
        pdf[sorted(pdf.columns)]
        .sort_values(sorted(pdf.columns))
        .reset_index(drop=True)
    )
    base = canon(doc_chunk_overlap(spark, sf_dir).toPandas())
    split = canon(doc_chunk_overlap(spark, str(tmp_path)).toPandas())
    assert base.equals(split)


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
