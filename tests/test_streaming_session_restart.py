"""Checkpoint-restart robustness for SESSION windows — the merging-state
twin of test_streaming_restart (tumbling): a session left OPEN at
shutdown must be recovered and MERGED with post-restart events that fall
within its gap, not restarted as a fresh session; finalized sessions must
not re-emit.

This is a materially different recovery contract from tumbling: tumbling
state is keyed by a fixed window, so restart only has to re-attach rows
to the same key — session state must restore the open interval itself
(start, current end, count) for the merge test `new_ts <= end + gap` to
keep working across the boundary.

The input is deliberately in-order with no late data, so batch
session_window over all rows is a valid expected-set oracle (the
evict-then-restart overlap semantics certified by
test_streaming_session_late only arise under late arrivals).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.streaming.incremental import run_available_now

_SCHEMA = "user_id bigint, ts timestamp"
_GAP = "30 minutes"


def _write(spark, src, name, rows):
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    spark.createDataFrame(pdf, schema=_SCHEMA).coalesce(1).write.parquet(
        str(src / name)
    )


def _transform(stream):
    return (
        stream.withWatermark("ts", _GAP)
        .groupBy(F.session_window("ts", _GAP).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def _run_once(spark, src, sink, ckpt):
    # each batch is a directory of part files; the glob reads them all
    run_available_now(spark, str(src / "*"), _SCHEMA, _transform, str(sink), str(ckpt))


def test_open_session_merges_across_restart(spark, tmp_path):
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)

    # Phase 1: user 1 opens a session (2 events), user 2 a singleton; stop.
    p1 = [(1, t0), (1, t0 + 10 * m), (2, t0 + 5 * m)]
    _write(spark, src, "b1", p1)
    _run_once(spark, src, sink, ckpt)
    assert not (sink.exists() and any(sink.glob("*.parquet"))) or (
        spark.read.parquet(str(sink)).count() == 0
    ), "nothing may emit before the watermark passes a session end"

    # Phase 2 (after restart): user 1's next event lands EXACTLY at
    # end-of-gap (t0+10m + 30m, the non-strict merge boundary) — it must
    # extend the RECOVERED session, not open a new one; then one more.
    p2 = [(1, t0 + 40 * m), (1, t0 + 55 * m)]
    _write(spark, src, "b2", p2)
    _run_once(spark, src, sink, ckpt)

    # Phase 3: far-future sentinel (user 99) closes every real session.
    p3 = [(99, t0 + pd.Timedelta(hours=10))]
    _write(spark, src, "b3", p3)
    _run_once(spark, src, sink, ckpt)

    got = spark.read.parquet(str(sink)).collect()
    keys = [(r.user_id, r.session_start) for r in got]
    assert len(keys) == len(set(keys)), "restart re-emitted a session"

    # Expected = batch sessionization of the real rows (sentinel's own
    # session stays open — the watermark never passes its end).
    all_rows = p1 + p2
    batch = spark.createDataFrame(
        pd.DataFrame(all_rows, columns=["user_id", "ts"]), schema=_SCHEMA
    )
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in _transform_batch(batch).collect()
    }
    assert {
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in got
    } == expected
    # the load-bearing cell: user 1's four events are ONE merged session
    # spanning the restart (a lost open-session state would split it)
    u1 = [r for r in got if r.user_id == 1]
    assert len(u1) == 1 and u1[0].n_events == 4
    assert u1[0].session_start == t0.to_pydatetime()


def _transform_batch(df):
    return (
        df.groupBy(F.session_window("ts", _GAP).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
