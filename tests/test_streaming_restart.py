"""Checkpoint-restart robustness: the exactly-once claim behind every
streaming operator in this engine (SURVEY §2 E11's chunked scheduler maps
to Structured Streaming precisely BECAUSE the checkpoint gives resumable,
no-dup progress — reference dpl/processor/engine.py re-runs idempotently
by memoizing outputs; the streaming twin must survive a stop/restart).

The pipeline (tumbling_stream_agg, append mode + watermark) runs THREE
times against one checkpoint + one parquet sink, with new source files
landing between runs. Append mode emits a window only once — when the
watermark passes its end — so the sink must hold every finalized window
exactly once across restarts: a broken source log would re-emit phase-1
windows in phase 2; lost watermark/agg state would drop or double-count
windows spanning the restart boundary."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.streaming.incremental import (
    run_available_now,
    tumbling_stream_agg,
)

_SCHEMA = "event_id bigint, event_type string, value double, ts timestamp"


def _write_batch(spark, src, name, start_min, n, base):
    rows = pd.DataFrame(
        {
            "event_id": range(start_min, start_min + n),
            "event_type": ["view" if i % 2 == 0 else "purchase" for i in range(n)],
            "value": [float(i % 7) for i in range(n)],
            "ts": [base + pd.Timedelta(minutes=start_min + i) for i in range(n)],
        }
    )
    spark.createDataFrame(rows, schema=_SCHEMA).coalesce(1).write.parquet(
        str(src / name)
    )
    return rows


def _transform(stream):
    return tumbling_stream_agg(stream, window="10 minutes", watermark="10 minutes")


def _run_once(spark, src, sink, ckpt):
    # each batch is a directory of part files; the glob reads them all
    run_available_now(spark, str(src / "*"), _SCHEMA, _transform, str(sink), str(ckpt))


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")

    all_rows = []
    # Phase 1: first hour of events, then stop.
    all_rows.append(_write_batch(spark, src, "b1", 0, 60, base))
    _run_once(spark, src, sink, ckpt)
    # Phase 2: second hour lands AFTER the restart — windows straddling the
    # stop boundary must finalize from recovered state, and phase-1 windows
    # must not re-emit.
    all_rows.append(_write_batch(spark, src, "b2", 60, 60, base))
    _run_once(spark, src, sink, ckpt)
    # Phase 3: a far-future sentinel pushes the watermark past every real
    # window so the expected set is deterministic regardless of how
    # AvailableNow batched the earlier files.
    all_rows.append(_write_batch(spark, src, "flush", 600, 1, base))
    _run_once(spark, src, sink, ckpt)

    got = (
        spark.read.parquet(str(sink))
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect()
    )
    # Exactly-once: no (window, type) key may appear twice across the three
    # runs (a re-emitted phase-1 window would land as a duplicate row).
    keys = [(r["window_start"], r["event_type"]) for r in got]
    assert len(keys) == len(set(keys)), "restart re-emitted finalized windows"

    # Completeness: every real window finalized (sentinel window excluded —
    # nothing advances the watermark past it).
    batch = spark.createDataFrame(pd.concat(all_rows), schema=_SCHEMA)
    expected = {
        (r["ws"], r["event_type"]): (r["n"], r["s"])
        for r in batch.filter(F.col("event_id") < 600)
        .groupBy(
            F.window("ts", "10 minutes").start.alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    got_map = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in got
    }
    assert got_map == expected


def test_restart_does_not_reprocess_consumed_files(spark, tmp_path):
    """The file-source log is the dedup ledger: restarting with NO new
    input produces zero new sink rows (an empty ledger would re-run the
    whole directory and double every count)."""
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    _write_batch(spark, src, "b1", 0, 60, base)
    _run_once(spark, src, sink, ckpt)

    def sink_count():
        try:
            return spark.read.parquet(str(sink)).count()
        except Exception:  # no window finalized yet → empty sink dir
            return 0

    n1 = sink_count()
    _run_once(spark, src, sink, ckpt)  # restart, nothing new
    n2 = sink_count()
    assert n2 == n1, f"restart without new input emitted {n2 - n1} rows"


def test_landing_dir_shim_handles_both_fixture_layouts(tmp_path):
    """Round-8 regression: the streaming fixture-ingest shim must expose
    BOTH a single-file table and a directory-of-part-files table (the
    layout every real corpus has) as a landing dir the file-stream source
    can actually list — the single-file-only symlink made every events
    stream silently ingest zero files from a directory fixture."""
    import os

    from talkinghead_datapipeline_spark.queries.streaming_queries import (
        _symlink_landing_dir,
    )

    # directory layout: two part files + a _SUCCESS marker to skip
    table_dir = tmp_path / "events.parquet"
    table_dir.mkdir()
    (table_dir / "part-00000-x.parquet").write_bytes(b"p0")
    (table_dir / "part-00001-x.parquet").write_bytes(b"p1")
    (table_dir / "_SUCCESS").write_bytes(b"")
    src = tmp_path / "src_dir"
    src.mkdir()
    _symlink_landing_dir(str(table_dir), str(src))
    links = sorted(os.listdir(src))
    assert len(links) == 2 and all(l.endswith(".parquet") for l in links)
    assert all(os.path.isfile(src / l) for l in links)  # files, not dirs

    # single-file layout
    table_file = tmp_path / "solo.parquet"
    table_file.write_bytes(b"solo")
    src2 = tmp_path / "src_file"
    src2.mkdir()
    _symlink_landing_dir(str(table_file), str(src2))
    assert os.listdir(src2) == ["events.parquet"]
    assert (src2 / "events.parquet").read_bytes() == b"solo"
