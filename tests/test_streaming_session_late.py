"""Session windows under late data.

Empirical pins for the four session-late contracts (see the session block
in queries/streaming_queries.py), each measured on crafted micro-batch
sequences, plus the real-drop and split-invariance checks over the real
fixture.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.queries.streaming_queries import (
    streaming_session_late_metrics,
    streaming_session_late_sink,
)
from talkinghead_datapipeline_spark.streaming.incremental import (
    replay_micro_batches,
)


def _run_crafted(spark, batches, gap="30 minutes", delay="30 minutes"):
    """Replay a session_window count over hand-written micro-batches.
    Events are (hh, mm) times on one day, one user. Returns (metrics,
    sorted sink rows)."""
    frames = [
        spark.createDataFrame(
            [(f"2024-01-01 {hh:02d}:{mm:02d}:00", 1) for hh, mm in evs],
            "s string, u bigint",
        ).select(F.col("s").cast("timestamp").alias("ts"), "u")
        for evs in batches
    ]

    def transform(stream):
        return (
            stream.withWatermark("ts", delay)
            .groupBy(F.session_window("ts", gap).alias("win"), "u")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("s"), F.col("win.end").alias("e"), "n")
        )

    with tempfile.TemporaryDirectory(prefix="thdp_sess_pin_") as work:
        metrics, sink = replay_micro_batches(
            frames, "ts timestamp, u bigint", transform, work
        )
        out = sorted(
            (str(r.s)[11:16], str(r.e)[11:16], r.n)
            for r in spark.read.parquet(sink).collect()
        )
    return metrics, out


# --- contract pins (crafted batches) ---------------------------------------


def test_contract1_filter_counts_raw_rows_per_row(spark):
    """Two late rows 10:20/10:21 (one would-be session) arriving after the
    watermark advanced two batches: numRowsDroppedByWatermark counts 2 —
    RAW rows, not the 1 merged session a tumbling-style post-merge filter
    would report. And a mixed-fate pair (12:59 below the lagged horizon,
    13:10 above, within one gap of each other) drops exactly the one
    below-horizon row: the filter judges each row by its OWN ts + gap."""
    metrics, sink = _run_crafted(
        spark, [[(10, 0)], [(14, 0)], [(14, 5)], [(10, 20), (10, 21)]]
    )
    assert metrics[3] == (3, 2, 2), metrics
    assert sink == [("10:00", "10:30", 1)]

    metrics, sink = _run_crafted(
        spark, [[(10, 0)], [(14, 0)], [(14, 5)], [(12, 59), (13, 10)]]
    )
    # lagged wm in batch 3 = max(b0, b1) - 30min = 13:30;
    # 12:59 end 13:29 <= 13:30 dropped, 13:10 end 13:40 > 13:30 kept
    assert metrics[3] == (3, 2, 1), metrics
    # the kept row's session (end 13:40) exceeds the final wm 13:35 ->
    # stays in state, so the sink holds only the batch-0 session
    assert sink == [("10:00", "10:30", 1)]


def test_contract1_boundary_is_nonstrict(spark):
    """A late row whose own horizon equals the lagged watermark exactly
    (13:00 + 30min == 13:30) IS dropped — drop iff ts + gap <= wm."""
    metrics, _ = _run_crafted(
        spark, [[(10, 0)], [(14, 0)], [(14, 5)], [(13, 0)]]
    )
    assert metrics[3] == (3, 1, 1), metrics
    # one minute later clears the horizon and is accepted + emitted
    metrics, sink = _run_crafted(
        spark, [[(10, 0)], [(14, 0)], [(14, 5)], [(13, 1)]]
    )
    assert metrics[3] == (3, 1, 0), metrics
    assert ("13:01", "13:31", 1) in sink


def test_contract2_merge_gap_is_nonstrict(spark):
    """An event at exactly last_ts + gap still merges: 10:00 and 10:30
    with a 30-minute gap form ONE session [10:00, 11:00) of 2 events."""
    _, sink = _run_crafted(spark, [[(10, 0), (10, 30)], [(13, 0)]])
    assert ("10:00", "11:00", 2) in sink


def test_contract3_eviction_is_nonstrict(spark):
    """A session whose end equals the final watermark exactly is emitted:
    session [10:00, 10:30) with final wm = 11:00 - 30min = 10:30."""
    _, sink = _run_crafted(spark, [[(10, 0)], [(11, 0)]])
    assert sink == [("10:00", "10:30", 1)]


def test_contract4_overlap_reemission_after_eviction(spark):
    """NO exactly-once-per-span for session windows: after [10:00, 10:30)
    is evicted (wm reaches 10:45 in batch 2), an accepted late row at
    10:20 (own end 10:50 > lagged wm 10:45) starts a FRESH session, and
    once the watermark passes it the sink contains TWO OVERLAPPING
    sessions. This is the contract that makes a global sessionization
    oracle WRONG and forces the batch-wise replay."""
    metrics, sink = _run_crafted(
        spark, [[(10, 0)], [(11, 15)], [(11, 16)], [(10, 20)], [(12, 0)]]
    )
    assert metrics[3][2] == 0, metrics  # the late row was ACCEPTED
    assert sink == [("10:00", "10:30", 1), ("10:20", "10:50", 1)]


# --- the real fixture: late drops happen, layout invariance ----------------


def test_fixture_exercises_real_drops(spark, sf_dir):
    """The straggler arrival must actually drop rows in batch 2 — a
    fixture change that silently stops exercising the late filter would
    turn every contract above vacuous."""
    rows = {r.batch_seq: r for r in streaming_session_late_metrics(
        spark, sf_dir
    ).collect()}
    assert rows[2].n_late_dropped > 0
    assert rows[0].n_late_dropped == 0 and rows[1].n_late_dropped == 0


def test_split_invariance(spark, sf_dir, tmp_path):
    """The 4-file re-write of events must reproduce both frames exactly:
    batch membership is integer arithmetic on epoch micros (layout-free)
    and the landing-dir staging coalesces per batch, so neither the
    metrics nor the emitted session set may move."""
    from talkinghead_datapipeline_spark.catalog import load_table
    from tests.oracle_harness import _canon_frame

    load_table(spark, sf_dir, "events").repartition(4).write.parquet(
        str(tmp_path / "events.parquet")
    )
    for fn in (streaming_session_late_metrics, streaming_session_late_sink):
        base = _canon_frame(fn(spark, sf_dir).toPandas())
        split = _canon_frame(fn(spark, str(tmp_path)).toPandas())
        assert base.equals(split), fn.__name__


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
