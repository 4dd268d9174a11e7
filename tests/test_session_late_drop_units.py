"""Pin the session-window dropped-by-watermark counting unit.

The full-registry x4 differential showed streaming_session_late_metrics'
raw-row oracle diverging on duplicate-heavy data (engine 324 vs raw 1296).
Direct probes show the engine's ``numRowsDroppedByWatermark`` for session
aggregations is neither raw rows nor any simple merged-session unit when a
user's late rows collide inside one micro-batch:

- 4 exact-duplicate late rows            -> 1 drop
- 4 distinct-ts same-session late rows   -> 1 drop
- 4 distinct-user late rows              -> 4 drops
- two separate late sessions, one user   -> 1 drop
- a fully-late two-row merged session    -> 0 drops

These pins do two jobs: (1) they delimit the oracle's modeled domain —
raw-row counting is exact when each late row is a session-isolated
singleton, which the certified fixtures satisfy (the oracle diff of
streaming_session_late_metrics in tests/test_queries_oracle.py); (2) an
engine upgrade that changes the counting unit fails here first, the same
early-warning contract the other streaming pins carry.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.streaming.incremental import (
    replay_micro_batches,
)


def _probe(spark, late_rows):
    batches = [
        [("2024-01-01 10:00:00", 1)],
        [("2024-01-01 12:00:00", 1)],  # watermark after this = 11:30
        late_rows,
    ]
    frames = [
        spark.createDataFrame(rows, "ts string, user_id bigint").selectExpr(
            "CAST(ts AS TIMESTAMP) AS ts", "user_id"
        )
        for rows in batches
    ]

    def transform(stream):
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    with tempfile.TemporaryDirectory(prefix="thdp_latedrop_probe_") as work:
        metrics, _sink = replay_micro_batches(
            frames, "ts timestamp, user_id bigint", transform, work
        )
    by_batch = {b: (n, d) for b, n, d in metrics}
    return by_batch[2]


def test_engine_drop_units_under_collisions(spark):
    # session-isolated singleton (the oracle's modeled domain): raw == unit
    assert _probe(spark, [("2024-01-01 09:00:00", 7)]) == (1, 1)
    # 4 exact duplicates collapse to one dropped unit
    assert _probe(spark, [("2024-01-01 09:00:00", 7)] * 4) == (4, 1)
    # 4 gap-connected late rows collapse to one dropped unit
    assert _probe(
        spark,
        [("2024-01-01 09:00:00", 7), ("2024-01-01 09:01:00", 7),
         ("2024-01-01 09:02:00", 7), ("2024-01-01 09:03:00", 7)],
    ) == (4, 1)
    # distinct users do NOT collapse
    assert _probe(
        spark,
        [("2024-01-01 09:00:00", 7), ("2024-01-01 09:00:00", 8),
         ("2024-01-01 09:00:00", 9), ("2024-01-01 09:00:00", 10)],
    ) == (4, 4)
    # two separate late sessions of one user count ONE (not two)
    assert _probe(
        spark,
        [("2024-01-01 09:00:00", 7), ("2024-01-01 10:30:00", 7)],
    ) == (2, 1)
    # a fully-late merged session (both rows' ts+gap <= watermark) counts
    # ZERO — the engine keeps it despite both rows being individually late
    assert _probe(
        spark,
        [("2024-01-01 10:30:00", 7), ("2024-01-01 10:59:00", 7)],
    ) == (2, 0)
