"""Incremental view maintenance ≡ recompute:
run_foreach_batch_merge across appended files + restarts must equal the
from-scratch batch aggregate EXACTLY, and a restart with no new data must
not change the sink (exactly-once file-source semantics).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.streaming.incremental import (
    merge_batch_into_sink,
    run_foreach_batch_merge,
)

SCHEMA = "k bigint, v bigint"


def _batch_agg(df):
    return df.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )


def _re_agg(df):
    return df.groupBy("k").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s"),
    )


@pytest.fixture()
def work(tmp_path):
    (tmp_path / "src").mkdir()
    return str(tmp_path)


def _append_file(spark, work: str, name: str, rows: list[tuple[int, int]]) -> None:
    stage = os.path.join(work, f"stage_{name}")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(stage)
    (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    shutil.move(os.path.join(stage, part), os.path.join(work, "src", f"{name}-0.parquet"))


def _run(spark, work: str) -> None:
    run_foreach_batch_merge(
        spark,
        source_dir=os.path.join(work, "src"),
        schema=SCHEMA,
        batch_agg=_batch_agg,
        re_agg=_re_agg,
        sink_path=os.path.join(work, "sink"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )


def _sink_rows(spark, work: str) -> set[tuple]:
    return {
        (r["k"], r["n"], r["s"])
        for r in spark.read.parquet(os.path.join(work, "sink")).collect()
    }


@pytest.mark.slow  # heavy tier (see conftest; VERDICT r14 #3)
def test_merge_across_appends_equals_recompute(spark, work):
    b1 = [(1, 10), (1, 20), (2, 5)]
    b2 = [(1, 1), (3, 7)]
    b3 = [(2, 2), (3, 3), (3, 4)]

    _append_file(spark, work, "b1", b1)
    _run(spark, work)
    assert _sink_rows(spark, work) == {(1, 2, 30), (2, 1, 5)}

    _append_file(spark, work, "b2", b2)
    _run(spark, work)  # restart #1: fresh query, same checkpoint
    _append_file(spark, work, "b3", b3)
    _run(spark, work)  # restart #2

    # from-scratch recompute over the union — exact equality
    batch = {
        (r["k"], r["n"], r["s"])
        for r in _batch_agg(spark.createDataFrame(b1 + b2 + b3, SCHEMA)).collect()
    }
    assert _sink_rows(spark, work) == batch == {(1, 3, 31), (2, 2, 7), (3, 3, 14)}


def test_restart_without_new_data_is_idempotent(spark, work):
    _append_file(spark, work, "b1", [(1, 10), (2, 20)])
    _run(spark, work)
    before = _sink_rows(spark, work)
    # a fresh run against the same checkpoint with NO new files must not
    # re-aggregate anything (double-counting would show up as n=2)
    _run(spark, work)
    assert _sink_rows(spark, work) == before == {(1, 1, 10), (2, 1, 20)}


def test_replayed_batch_is_skipped_not_double_counted(spark, work):
    """foreachBatch is at-least-once: a crash after the sink overwrite but
    before the checkpoint offset commit re-delivers the batch with the SAME
    batch_id. The additive merge must skip it (ADVICE r11) — drive the
    per-batch step directly to simulate the replay the clean-restart test
    cannot reach."""
    sink = os.path.join(work, "sink")
    b0 = spark.createDataFrame([(1, 10), (2, 20)], SCHEMA)
    b1 = spark.createDataFrame([(1, 1), (3, 7)], SCHEMA)

    assert merge_batch_into_sink(spark, b0, 0, _batch_agg, _re_agg, sink) is True
    after_b0 = _sink_rows(spark, work)
    assert after_b0 == {(1, 1, 10), (2, 1, 20)}

    # replay of batch 0 (failure landed between sink write and offset
    # commit): must be a no-op, not a double count (n=2 would betray it)
    assert merge_batch_into_sink(spark, b0, 0, _batch_agg, _re_agg, sink) is False
    assert _sink_rows(spark, work) == after_b0

    # the next genuine batch still merges...
    assert merge_batch_into_sink(spark, b1, 1, _batch_agg, _re_agg, sink) is True
    after_b1 = _sink_rows(spark, work)
    assert after_b1 == {(1, 2, 11), (2, 1, 20), (3, 1, 7)}

    # ...and replays of EITHER earlier batch id are still skipped
    assert merge_batch_into_sink(spark, b1, 1, _batch_agg, _re_agg, sink) is False
    assert merge_batch_into_sink(spark, b0, 0, _batch_agg, _re_agg, sink) is False
    assert _sink_rows(spark, work) == after_b1


def test_legacy_sink_without_watermark_still_merges(spark, work):
    """A sink written before the _applied_batch_id column existed must keep
    merging (watermark absent → never skip), then gain the column."""
    sink = os.path.join(work, "sink")
    _batch_agg(spark.createDataFrame([(1, 10)], SCHEMA)).write.parquet(sink)
    b1 = spark.createDataFrame([(1, 5)], SCHEMA)
    assert merge_batch_into_sink(spark, b1, 0, _batch_agg, _re_agg, sink) is True
    assert _sink_rows(spark, work) == {(1, 2, 15)}
    cols = spark.read.parquet(sink).columns
    assert "_applied_batch_id" in cols


def test_registered_query_matches_spark_batch_recompute(spark, sf_dir):
    """The registered query's incremental sink equals Spark's OWN batch
    recompute bit-for-bit (the DuckDB oracle certifies the cross-engine
    half; this pins the incremental-vs-batch half inside one engine)."""
    from talkinghead_datapipeline_spark.catalog import load_table
    from talkinghead_datapipeline_spark.functions.geometry import round_half_away
    from talkinghead_datapipeline_spark.queries.streaming_queries import (
        incremental_recompute_equivalence,
    )

    got = {
        tuple(r)
        for r in incremental_recompute_equivalence(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
                F.sum(round_half_away(F.col("value") * 100))
                .cast("bigint")
                .alias("sum_value_cents"),
            )
            .select(
                "user_id",
                "n_purchases",
                "sum_value_cents",
                (F.col("sum_value_cents") / 100.0).alias("total_value"),
            )
            .collect()
        )
    }
    assert got == want and len(got) > 0
