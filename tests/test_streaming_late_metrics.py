"""Watermark late-data metrics.

Two layers:

1. **Boundary pins** on a crafted 3-batch replay — the exact engine
   semantics the oracle replays, measured (not assumed) on this Spark:

   - the late-data filter in micro-batch k uses the watermark that was
     CURRENT during batch k-1, i.e. ``max(event time over batches <= k-2)
     - delay`` (watermark propagation carries previous/current pairs;
     eviction uses current, the late filter the previous one);
   - the drop comparison is NON-STRICT on window end (a window ending
     exactly AT the lagged watermark drops);
   - the dropped-by-watermark count is per WINDOW, not per raw row: the
     filter's input is the post-merge stream (one row per window per
     micro-batch);
   - Spark's whole-millisecond watermark tracking floors, never ceils:
     a batch-max event time 500us BELOW a whole-ms boundary must NOT
     drop a window ending at that boundary (floor and exact-micros
     agree; a ceiling would disagree — pinned so an engine upgrade that
     changes the rounding fails here, not at the driver).

2. **Fixture checks** — the staged queries on the real fixture exercise
   real drops, discriminate the lag model and are layout-invariant.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.streaming_queries import (
    STRAGGLER_SPLIT_SQL,
    streaming_late_data_metrics,
    streaming_late_sink_counts,
)
from talkinghead_datapipeline_spark.streaming.incremental import (
    replay_micro_batches,
)


def _transform(stream):
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "n")
    )


def _run_crafted(spark, batches: list[list[str]]) -> list[tuple[int, int, int]]:
    """Replay the 1h-window/30min-watermark count agg over one micro-batch
    per list of timestamps and return the per-batch (batch_id, n_input,
    n_dropped) engine metrics."""
    frames = [
        spark.createDataFrame([(s,) for s in stamps], "ts_s string").select(
            F.col("ts_s").cast("timestamp").alias("ts")
        )
        for stamps in batches
    ]
    with tempfile.TemporaryDirectory(prefix="thdp_late_pin_") as work:
        metrics, _sink = replay_micro_batches(frames, "ts timestamp", _transform, work)
    return metrics


def test_late_filter_lags_eviction_by_one_batch(spark):
    """A row 1h late relative to batch-0's max is KEPT in batch 1 (the
    late filter still carries batch-0's STARTING watermark, epoch 0) and
    an equally-late row is DROPPED in batch 2 (filter watermark is now
    max(batch 0) - 30min). Eviction meanwhile uses the current watermark
    — both old windows still emit exactly once."""
    metrics = _run_crafted(
        spark,
        [
            ["2024-01-01 01:10:00", "2024-01-01 02:30:00"],
            ["2024-01-01 03:30:00", "2024-01-01 00:40:00"],
            # ends 01:00 and 02:00 vs lagged wm max(b0)-30min = 02:00:00:
            # BOTH drop (02:00 <= 02:00 non-strict); 03:40 is on time.
            ["2024-01-01 00:30:00", "2024-01-01 01:50:00", "2024-01-01 03:40:00"],
        ],
    )
    by_batch = {b: (n, d) for b, n, d in metrics}
    assert by_batch[0] == (2, 0)
    assert by_batch[1] == (2, 0)  # late row kept: filter wm lags one batch
    assert by_batch[2] == (3, 2)  # non-strict <=: end==wm drops


def test_drop_metric_counts_windows_not_rows(spark):
    """Two late rows in the SAME closed window count as ONE drop: the
    late filter sits downstream of the partial/merge aggregation, so its
    input is one merged row per window per micro-batch. (Found at
    sf0.01 — a per-raw-row oracle overcounted 324 vs the engine's 178,
    exactly the distinct-window count; sf0.001 masked it because every
    late row there happened to be alone in its window.)"""
    metrics = _run_crafted(
        spark,
        [
            ["2024-01-01 01:10:00", "2024-01-01 02:30:00"],
            ["2024-01-01 03:30:00"],
            # three late raw rows, but only TWO distinct closed windows
            # (00:00 gets two rows) vs lagged wm 02:00:00
            [
                "2024-01-01 00:10:00",
                "2024-01-01 00:50:00",
                "2024-01-01 01:20:00",
                "2024-01-01 03:40:00",
            ],
        ],
    )
    by_batch = {b: (n, d) for b, n, d in metrics}
    assert by_batch[2] == (4, 2)


def test_watermark_ms_tracking_floors_not_ceils(spark):
    """Batch-0 max = 02:29:59.999500. Lagged filter watermark for batch 2
    is 01:59:59.999500 exact-micros (01:59:59.999 floored-to-ms — same
    verdict either way); a ceiling to 02:00:00.000 would ALSO drop the
    window ending 02:00:00. Exactly one drop = floor/exact semantics."""
    metrics = _run_crafted(
        spark,
        [
            ["2024-01-01 01:10:00", "2024-01-01 02:29:59.999500"],
            ["2024-01-01 03:30:00"],
            ["2024-01-01 00:30:00", "2024-01-01 01:50:00"],
        ],
    )
    by_batch = {b: (n, d) for b, n, d in metrics}
    assert by_batch[2] == (2, 1)  # end 01:00 drops; end 02:00 survives


def test_sink_window_keys_unique(spark, sf_dir):
    """The no-duplicate-emission consequence, asserted directly on the
    engine output (belt to the oracle's braces)."""
    pdf = streaming_late_sink_counts(spark, sf_dir).toPandas()
    assert pdf["window_start"].is_unique
    assert len(pdf) > 0


def test_drops_are_nontrivial_and_bounded(spark, sf_dir):
    """The staged fixture must actually exercise the late path: some rows
    drop (stragglers from closed windows) but never a whole batch, and
    batch 0 can never drop (no watermark yet)."""
    rows = {
        r.batch_seq: r for r in streaming_late_data_metrics(spark, sf_dir).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert rows[0].n_late_dropped == 0
    total_dropped = sum(r.n_late_dropped for r in rows.values())
    assert total_dropped > 0
    for r in rows.values():
        assert 0 <= r.n_late_dropped < r.n_input


def test_lag_model_is_observable_not_vacuous(spark, sf_dir):
    """The one-batch-lag contract must be DISCRIMINATED by the fixture,
    not merely consistent with it: a zero-lag model (filter uses the
    current watermark, max over batches <= k-1) predicts strictly more
    batch-2 drops on the real events data (59 vs 33 at sf0.001, 362 vs
    178 at sf0.01). If this assertion ever fails, the fixture stopped
    exercising the lag and the oracle's main pin is no longer evidenced
    end-to-end."""
    import duckdb

    from talkinghead_datapipeline_spark.catalog import table_path

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
        % table_path(sf_dir, "events")
    )
    lag1, lag0 = con.execute(
        f"""
        WITH {STRAGGLER_SPLIT_SQL},
        w AS (
          SELECT batch, (us // 3600000000) * 3600000000 + 3600000000 AS win_end_us
          FROM b
        )
        SELECT
          (SELECT count(DISTINCT win_end_us) FROM w
            WHERE batch = 2 AND win_end_us <=
              (SELECT max(us) FROM b WHERE batch <= 0) - 1800000000),
          (SELECT count(DISTINCT win_end_us) FROM w
            WHERE batch = 2 AND win_end_us <=
              (SELECT max(us) FROM b WHERE batch <= 1) - 1800000000)
        """
    ).fetchone()
    assert lag0 > lag1 > 0
    engine = {
        r.batch_seq: r.n_late_dropped
        for r in streaming_late_data_metrics(spark, sf_dir).collect()
    }
    assert engine[2] == lag1  # the engine matches the LAGGED model only


def test_split_invariance(spark, sf_dir, tmp_path):
    """A 4-file shuffled re-write of events must reproduce the metrics
    exactly: batch membership is data-derived (tercile + straggler
    arithmetic), the landing files are re-built per run, and the drop
    count is per-window post-merge — nothing may depend on the source
    table's physical layout. Also exercises the staged query's catalog
    read against a DIRECTORY-layout table."""
    from talkinghead_datapipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "events").repartition(4).write.parquet(
        str(tmp_path / "events.parquet")
    )
    base = streaming_late_data_metrics(spark, sf_dir).toPandas()
    split = streaming_late_data_metrics(spark, str(tmp_path)).toPandas()
    assert base.equals(split)


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
