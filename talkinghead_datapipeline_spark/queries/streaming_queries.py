"""Structured Streaming queries wired into the correctness gate.

The reference's only "streaming" is batch-incremental chunk scheduling with
file-existence memoization (SURVEY §2.a E7/E11). The principled Spark form
is a file-source stream + ``Trigger.AvailableNow`` + checkpoint: exactly-once
incremental over a growing directory. These queries run a REAL streaming job
(state store, watermark, eviction) to a parquet sink, then return the sink —
so the driver's oracle compare covers the streaming engine path end-to-end.

Determinism contract (what makes an oracle possible at all): with
``Trigger.AvailableNow`` the final event-time watermark is
``max(ts) - delay``, and append mode emits exactly the windows whose end is
``<= watermark`` (Spark runs a final no-data micro-batch to evict them).
Both cutoffs are plain SQL over the same data, so DuckDB reproduces the
emitted set exactly.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import normalize_events_ts, table_path
from talkinghead_datapipeline_spark.queries import register
from talkinghead_datapipeline_spark.streaming.incremental import (
    replay_micro_batches,
    run_available_now,
)

# Work dirs of every staged stream in this process (landing files, sink,
# checkpoint). The queries return frames that read their sinks lazily, so
# the dirs are removed at interpreter exit, not when the query returns.
_WORK_DIRS: list[str] = []


def _remove_work_dirs() -> None:
    while _WORK_DIRS:
        shutil.rmtree(_WORK_DIRS.pop(), ignore_errors=True)


atexit.register(_remove_work_dirs)


def _work_dir(name: str) -> str:
    """A fresh work dir for one staged stream, removed at interpreter exit."""
    work = tempfile.mkdtemp(prefix=f"thdp_stream_{name}_")
    _WORK_DIRS.append(work)
    return work


def _events_stream_transform_base(stream: DataFrame) -> DataFrame:
    """ts normalization — the same single seam as catalog.load_table, so the
    streaming source tracks whatever physical type the fixture uses."""
    return normalize_events_ts(stream)


def _symlink_landing_dir(table: str, src: str) -> None:
    """Expose a fixture table as a file-stream landing directory (zero
    copy). Handles BOTH fixture layouts: a single parquet file (the
    driver's testdata) and a DIRECTORY of part files (any re-written /
    multi-split fixture — the layout every real corpus has). Each part
    file is linked on its own: the file source lists the landing dir
    non-recursively, and a symlinked subdirectory is not a file, so linking
    the table directory itself would ingest ZERO files and leave the sink
    empty."""
    if os.path.isdir(table):
        for i, f in enumerate(sorted(os.listdir(table))):
            if f.endswith(".parquet"):
                os.symlink(
                    os.path.join(table, f), os.path.join(src, f"part-{i:05d}.parquet")
                )
    else:
        os.symlink(table, os.path.join(src, "events.parquet"))


def _run_events_stream(
    spark: SparkSession, sf_dir: str, transform, name: str
) -> DataFrame:
    """Run an AvailableNow streaming job over events.parquet into a fresh
    parquet sink + checkpoint, and return the materialized sink."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    work = _work_dir(name)
    # The file stream source requires a *directory* to monitor; expose the
    # fixture through a symlink dir — exactly how a growing landing
    # directory would look in prod.
    src = os.path.join(work, "src")
    os.makedirs(src)
    _symlink_landing_dir(table_path(sf_dir, "events"), src)
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    run_available_now(
        spark,
        source_dir=src,
        schema=schema,
        transform=lambda s: transform(_events_stream_transform_base(s)),
        sink_path=sink,
        checkpoint_dir=ckpt,
    )
    return spark.read.parquet(sink)


@register(
    "streaming_hourly_event_counts",
    oracle="""
    WITH mx AS (SELECT max(ts) AS max_ts FROM events),
    agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type,
             count(*) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, sum_value
    FROM agg, mx
    WHERE window_start + INTERVAL 1 HOUR <= max_ts
    """,
)
def streaming_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9's tumbling agg on the real streaming path: file stream → watermark
    → 1h tumbling window state → append eviction → parquet sink. At scale
    this is the incremental form of the hourly rollup — each AvailableNow
    run processes only new files (checkpointed), state is bounded by the
    watermark, and the sink partitions by window."""

    def transform(ev: DataFrame) -> DataFrame:
        return (
            ev.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    return _run_events_stream(spark, sf_dir, transform, "hourly")


@register(
    "streaming_user_sessions",
    oracle="""
    WITH mx AS (SELECT max(ts) AS max_ts FROM events),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
      FROM flagged
    ),
    rolled AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events,
             round(sum(value), 2) AS session_value
      FROM sessions
      GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, session_value
    FROM rolled, mx
    WHERE session_end <= max_ts
    """,
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization on the streaming path: ``session_window``
    merges per-user state across micro-batches (the stateful-operator twin
    of the batch lag+cumsum sessionize_users). Sessions still open at the
    final watermark stay in state — exactly the semantics an incremental
    24/7 pipeline needs."""

    def transform(ev: DataFrame) -> DataFrame:
        return (
            ev.withWatermark("ts", "0 seconds")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("win"), "user_id"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("session_value"),
            )
            .select(
                "user_id",
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events",
                "session_value",
            )
        )

    return _run_events_stream(spark, sf_dir, transform, "sessions")


@register(
    "streaming_purchase_view_join",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           v.event_id AS view_id,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
    """,
)
def streaming_purchase_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the one Structured Streaming
    operator class the session/window/dedup queries don't cover: each
    purchase joins every view by the same user in the preceding 30
    minutes. Both sides carry event-time watermarks and the join condition
    carries the two-sided time bound, so the state store retains each view
    only within its 30-minute usefulness horizon — the property that keeps
    state bounded on an unbounded firehose. Determinism contract: the
    single-file AvailableNow source makes one micro-batch, and inner
    stream-stream joins emit every match regardless of watermark timing,
    so the batch join over the same data is an exact oracle."""

    def transform(ev: DataFrame) -> DataFrame:
        return _purchase_view_join(ev, "inner").select(
            "user_id",
            "purchase_id",
            "view_id",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
        )

    return _run_events_stream(spark, sf_dir, transform, "ssjoin")


def _purchase_view_join(ev: DataFrame, how: str) -> DataFrame:
    """Watermarked purchase↔view interval join shared by the inner and
    left-outer streaming queries."""
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "0 seconds")
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_ts") <= F.col("p_ts")),
        how,
    )


@register(
    "streaming_purchase_view_left",
    oracle="""
    WITH wm AS (
      -- Spark's global watermark: MIN over both sides' per-operator
      -- watermarks (each side sees only its filtered stream), truncated
      -- to millisecond precision as the engine does internally
      SELECT make_timestamp(epoch_ms(least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'view'))) * 1000) AS w
    ),
    matched AS (
      SELECT p.user_id,
             p.event_id AS purchase_id,
             v.event_id AS view_id,
             CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
      FROM events p JOIN events v
        ON p.user_id = v.user_id
       AND p.event_type = 'purchase' AND v.event_type = 'view'
       AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
    ),
    unmatched AS (
      -- outer-null emission happens only when the purchase's state row
      -- expires: its join horizon (v_ts <= p_ts) is fully below the final
      -- watermark, STRICTLY (p.ts == w is withheld, observed and pinned)
      SELECT p.user_id,
             p.event_id AS purchase_id,
             CAST(NULL AS BIGINT) AS view_id,
             CAST(NULL AS BIGINT) AS gap_us
      FROM events p, wm
      WHERE p.event_type = 'purchase'
        AND p.ts < wm.w
        AND NOT EXISTS (
          SELECT 1 FROM events v
          WHERE v.event_type = 'view' AND v.user_id = p.user_id
            AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def streaming_purchase_view_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream join — the watermark-expiry
    emission class: purchases with no view in their preceding 30 minutes
    emit a null-padded row once the watermark proves no matching view can
    still arrive. State stays bounded exactly as in
    the inner form; the extra semantics are WHEN the engine may emit the
    null row. Determinism contract, empirically pinned at sf0.01 (1960 of
    1961 unmatched purchases emitted) and mirrored in the oracle: the
    global watermark is the MIN of the two sides' watermarks — each side's
    watermark tracks max event time of its OWN filtered stream, so here
    W = min(max purchase ts, max view ts), ms-truncated — and a state row
    expires (emitting its null) only when p_ts < W strictly; the purchase
    AT the watermark is withheld in state. Matched rows emit in the
    processing micro-batch regardless of the watermark, identical to the
    inner join."""

    def transform(ev: DataFrame) -> DataFrame:
        return _purchase_view_join(ev, "leftOuter").select(
            "user_id",
            "purchase_id",
            "view_id",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
        )

    return _run_events_stream(spark, sf_dir, transform, "ssleft")


@register(
    "streaming_stateful_user_extents",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id
    FROM events
    GROUP BY user_id
    """,
)
def streaming_stateful_user_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful operator on the real streaming path —
    ``applyInPandasWithState`` holding per-user (count, min id, max id)
    in explicit group state, the imperative hook the declarative
    window/session/dedup operators can't express (running caches, rate
    limits, custom eviction live here). Oracle-certifiable because every
    state field is an order-independent exact int64 fold: a batch GROUP
    BY reproduces the single-micro-batch emission bit-for-bit. State is
    one tuple per user — bounded by key cardinality, the
    applyInPandasWithState contract at firehose scale."""
    from talkinghead_datapipeline_spark.streaming.stateful import (
        running_user_extents,
    )

    return _run_events_stream(spark, sf_dir, running_user_extents, "statefulext")


@register(
    "streaming_dedup_event_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_dedup_event_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on the driver surface:
    ``dropDuplicatesWithinWatermark`` over the (user_id, event_type) key
    projection — the ingest-side guard that keeps one row per key within
    the watermark horizon with state bounded by horizon arrival volume
    (the streaming twin of batch exact_dedup; a plain dropDuplicates
    would grow state forever on an unbounded crawl). Only the key
    columns are emitted: WHICH physical row wins a single-batch race is
    processing-order dependent, so projecting the payload away is what
    makes the operator's output deterministic and the DISTINCT oracle
    exact. Under AvailableNow all fixture rows share one micro-batch
    whose starting watermark is 0, so no state expires mid-batch and the
    emission is exactly the distinct key set."""

    def transform(ev: DataFrame) -> DataFrame:
        return (
            ev.select("user_id", "event_type", "ts")
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    return _run_events_stream(spark, sf_dir, transform, "dedupkeys")


@register(
    "streaming_enrich_static_dim",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           CAST(epoch_us(e.ts) AS BIGINT) AS ts_us, e.value,
           c.c_mktsegment AS segment,
           CAST(c.c_nationkey AS BIGINT) AS nation_key
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def streaming_enrich_static_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join — the remaining Structured Streaming join class
    after the stream-stream inner/left pair: each micro-batch of the event
    stream is enriched against a static dimension (customer) by a stateless
    broadcast hash join, the canonical ingest-time enrichment shape. No
    state store, no watermark requirement: the static side is planned once
    and (being far under the broadcast threshold at dimension scale)
    shipped to every task; at 100 TB of stream the per-batch cost is
    map-only. The batch oracle is the plain inner join — stream-static
    append emits exactly the joined rows. Timestamps surface as epoch
    micros to stay canonicalizer-sortable."""
    from talkinghead_datapipeline_spark.catalog import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("bigint").alias("nation_key"),
    )

    def transform(ev: DataFrame) -> DataFrame:
        return ev.join(F.broadcast(cust), "user_id").select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            "segment",
            "nation_key",
        )

    return _run_events_stream(spark, sf_dir, transform, "enrich")


@register(
    "streaming_sliding_event_counts",
    oracle="""
    WITH mx AS (SELECT max(ts) AS max_ts FROM events),
    assigned AS (
      SELECT unnest(generate_series(
               time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 90 MINUTE,
               time_bucket(INTERVAL 30 MINUTE, ts),
               INTERVAL 30 MINUTE)) AS window_start,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM assigned, mx
    WHERE window_start + INTERVAL 2 HOUR <= max_ts
    GROUP BY window_start, event_type
    """,
)
def streaming_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows (2 h length, 30 min slide) on the streaming path —
    the overlapping-window stateful class next to the tumbling and session
    forms: each event updates 4 window states, append mode emits a window
    when its END crosses the final watermark. The oracle assigns each
    event to its 4 epoch-aligned windows with generate_series (Spark's
    window() and DuckDB's time_bucket share the 1970-epoch grid) and
    applies the same end ≤ max(ts) eviction cutoff. At scale state is
    bounded by (windows in the watermark horizon) × (group keys), and the
    per-event fan-out of 4 is map-side — the shuffle still keys on
    (window, group)."""

    def transform(ev: DataFrame) -> DataFrame:
        return (
            ev.withWatermark("ts", "0 seconds")
            .groupBy(
                F.window("ts", "2 hours", "30 minutes").alias("win"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
                "sum_value",
            )
        )

    return _run_events_stream(spark, sf_dir, transform, "sliding")


@register(
    "streaming_foreachbatch_upsert",
    oracle="""
    SELECT user_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           value AS latest_value
    FROM (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch UPSERT sink — the remaining Structured Streaming SINK
    class (the others run append-mode writers): each micro-batch reduces to
    the latest purchase per user and keyed-replaces into the parquet sink
    (read → anti-join → union → atomic overwrite; at scale the body becomes
    a Delta/Iceberg MERGE, same semantics). Under AvailableNow the final
    sink state equals the batch argmax, which is exactly the oracle's
    window argmax with the (ts DESC, event_id DESC) tiebreak — so the
    driver certifies the whole stream → merge → sink → read-back loop, not
    just a transformation."""
    from talkinghead_datapipeline_spark.streaming.incremental import (
        run_foreach_batch_upsert,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    work = _work_dir("upsert")
    src = os.path.join(work, "src")
    os.makedirs(src)
    _symlink_landing_dir(table_path(sf_dir, "events"), src)
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")

    def transform(batch: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window as W

        ev = _events_stream_transform_base(batch).filter(
            F.col("event_type") == "purchase"
        )
        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                F.col("value").alias("latest_value"),
            )
        )

    run_foreach_batch_upsert(
        spark,
        source_dir=src,
        schema=schema,
        transform=transform,
        sink_path=sink,
        checkpoint_dir=ckpt,
        key="user_id",
    )
    return spark.read.parquet(sink)


@register(
    "streaming_purchase_view_full",
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(epoch_ms(least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'view'))) * 1000) AS w
    ),
    matched AS (
      SELECT p.user_id AS any_user_id,
             p.event_id AS purchase_id,
             v.event_id AS view_id,
             CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
      FROM events p JOIN events v
        ON p.user_id = v.user_id
       AND p.event_type = 'purchase' AND v.event_type = 'view'
       AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
    ),
    p_unmatched AS (
      SELECT p.user_id AS any_user_id, p.event_id AS purchase_id,
             CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS BIGINT) AS gap_us
      FROM events p, wm
      WHERE p.event_type = 'purchase' AND p.ts < wm.w
        AND NOT EXISTS (
          SELECT 1 FROM events v
          WHERE v.event_type = 'view' AND v.user_id = p.user_id
            AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts)
    ),
    v_unmatched AS (
      -- view-side expiry: a view's join horizon reaches forward to
      -- p_ts = v_ts + 30min, so its state row expires — emitting the
      -- purchase-null row — only when v_ts + 30min < W, STRICTLY
      -- (the view whose horizon equals W is withheld; pinned by
      -- tests/test_skew_and_stateful.py on a crafted corpus)
      SELECT v.user_id AS any_user_id, CAST(NULL AS BIGINT) AS purchase_id,
             v.event_id AS view_id, CAST(NULL AS BIGINT) AS gap_us
      FROM events v, wm
      WHERE v.event_type = 'view' AND v.ts + INTERVAL 30 MINUTE < wm.w
        AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
            AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts)
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM p_unmatched
    UNION ALL SELECT * FROM v_unmatched
    """,
)
def streaming_purchase_view_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER watermarked stream-stream join — both sides' expiry
    emissions: unmatched purchases null-pad when p_ts < W (same boundary
    as the left-outer form), unmatched views null-pad when their FORWARD
    join horizon clears the watermark, v_ts + 30min < W strictly — the
    asymmetry (no +30min on the purchase side) falls straight out of the
    interval predicate v_ts ∈ [p_ts − 30min, p_ts]: purchases look
    backward, views look forward. Both boundaries empirically pinned on a
    crafted corpus with rows AT the watermark. State bounds are identical
    to the inner/left forms — full outer changes only WHEN withheld rows
    surface, not what is kept."""

    def transform(ev: DataFrame) -> DataFrame:
        return _purchase_view_join(ev, "fullOuter").select(
            F.coalesce("user_id", "v_user_id").alias("any_user_id"),
            "purchase_id",
            "view_id",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
        )

    return _run_events_stream(spark, sf_dir, transform, "ssfull")



# ---------------------------------------------------------------------------
# Late data: the staged straggler arrival. Two runs share it, each serving a
# metrics query and a sink query from ONE streaming job: the 1h tumbling
# count (tests/test_streaming_late_metrics.py pins the two-watermark lag,
# window-not-row drop counting and ms-floor semantics) and the 30-minute
# session count (tests/test_streaming_session_late.py).
#
# Late-drop determinism contract (empirically pinned by the boundary tests):
# replay_micro_batches forms one micro-batch per landing file, in list
# order, and Spark's watermark propagation gives each batch TWO watermarks
# (SPARK-42376 shape): eviction/emission uses the CURRENT one (max event
# time over batches <= k-1, minus delay), while the LATE-DATA FILTER uses
# the PREVIOUS one — max over batches <= k-2, minus delay. For the tumbling
# count the filter sits at the STATE OPERATOR, downstream of the
# partial/merge aggregation, so its input is ONE merged row per window per
# micro-batch: numRowsDroppedByWatermark counts DISTINCT LATE WINDOWS
# (window end <= the lagged watermark, non-strict), NOT raw late rows —
# verified layout-invariant under forced 16 KB file splits (many map-side
# partials per window still merge to one row before the filter). Spark
# tracks the watermark in whole milliseconds; with whole-millisecond window
# ends and delays a floor-to-ms never changes the comparison (floor_ms(x) >=
# E iff x >= E for whole-ms E), so the oracle can compare exact epoch micros.
# ---------------------------------------------------------------------------

# The late runs' watermark delay, and the session run's gap (microseconds).
_HALF_HOUR_US = 1_800_000_000

# DuckDB side of the straggler split (_straggler_batches): every event's
# (us, user_id) tagged with its landing batch — terciles of the [min, max]
# span, straggler users shifted two files later.
STRAGGLER_SPLIT_SQL = """
e AS (SELECT epoch_us(ts) AS us, user_id FROM events),
bounds AS (SELECT min(us) AS t0, max(us) AS t1 FROM e),
b AS (
  SELECT us, user_id,
         least(2, least(2, ((us - t0) * 3) // (t1 - t0))
                  + CASE WHEN user_id % 10 = 7 THEN 2 ELSE 0 END) AS batch
  FROM e, bounds
)"""

# The late filter's watermark: ``pw.wm_us`` is the lagged watermark of batch
# ``pw.tgt`` (max event time over batches <= tgt - 2, minus the delay).
# Batches 0 and 1 have no row: their filter watermark is still the initial 0.
LAGGED_WATERMARK_SQL = f"""
mx AS (SELECT batch, max(us) AS mx_us FROM b GROUP BY 1),
pw AS (
  SELECT batch + 2 AS tgt,
         max(mx_us) OVER (ORDER BY batch
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - {_HALF_HOUR_US} AS wm_us
  FROM mx
)"""

STREAMING_LATE_METRICS_ORACLE = f"""
WITH {STRAGGLER_SPLIT_SQL},
{LAGGED_WATERMARK_SQL},
w AS (
  SELECT batch, (us // 3600000000) * 3600000000 + 3600000000 AS win_end_us
  FROM b
)
SELECT w.batch AS batch_seq,
       CAST(count(*) AS BIGINT) AS n_input,
       CAST(count(DISTINCT CASE WHEN w.win_end_us <= pw.wm_us
                                THEN w.win_end_us END)
            AS BIGINT) AS n_late_dropped
FROM w LEFT JOIN pw ON w.batch = pw.tgt
GROUP BY 1 ORDER BY 1
"""


def _tumbling_late_transform(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


def _session_late_transform(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


# Run name -> (landing-file stream schema, streaming transform).
_LATE_RUNS = {
    "late": ("ts timestamp", _tumbling_late_transform),
    "sess": ("ts timestamp, user_id bigint", _session_late_transform),
}

# One streaming run serves both queries of a pair: the metrics query
# discards the sink and the sink query discards the metrics. Keyed on
# (run name, session, sf_dir, shuffle partitions, AQE), so the invariance
# axes still force a genuine re-run; other confs share the run. A
# run-to-run nondeterminism probe calls _staged_late_run_uncached.
_STAGED_RUNS: dict = {}


def _stream_run_key(spark: SparkSession, sf_dir: str) -> tuple:
    # Typed confs validate their default against the conf's type, so pass
    # type-correct defaults (the values only need to be stable within a
    # session for the key to be sound).
    return (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        spark.conf.get("spark.sql.shuffle.partitions", "200"),
        spark.conf.get("spark.sql.adaptive.enabled", "true"),
    )


def _staged_late_run(spark: SparkSession, sf_dir: str, name: str):
    """(per-batch metrics, sink path) of the staged late run ``name``,
    memoized in ``_STAGED_RUNS``."""
    key = (name, *_stream_run_key(spark, sf_dir))
    if key not in _STAGED_RUNS:
        _STAGED_RUNS[key] = _staged_late_run_uncached(spark, sf_dir, name)
    return _STAGED_RUNS[key]


def _straggler_batches(
    spark: SparkSession, sf_dir: str, cols: list[str]
) -> list[DataFrame]:
    """The events table's ``cols`` as the 3-batch straggler arrival: batch
    k holds tercile k of the event-time span, except rows of straggler
    users (user_id % 10 == 7), which arrive two batches later (capped at
    the last batch)."""
    from talkinghead_datapipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"), "user_id", F.col("ts")
    )
    t0, t1 = ev.agg(F.min("us"), F.max("us")).first()
    # Exact BIGINT division (`div`), NOT `/`: double division's correct
    # rounding can land an exact-integer quotient one ULP above the true
    # value and flip the tercile vs DuckDB's integer `//` — the same
    # float-at-boundary class as the money-cent flips.
    tercile = F.least(F.lit(2), F.expr(f"((us - {t0}) * 3) div {t1 - t0}"))
    # Stragglers are delayed TWO files, not one: the late filter lags the
    # eviction watermark by one batch (pinned contract above), so a
    # one-batch delay is always masked — tercile-0 stragglers must arrive
    # in batch 2, where the filter watermark is max(batch 0) - 30min, for
    # the queries to exercise real drops.
    batch = F.least(
        F.lit(2), tercile + 2 * (F.col("user_id") % 10 == 7).cast("bigint")
    )
    staged = ev.select(*cols, batch.alias("batch"))
    return [staged.filter(F.col("batch") == k).select(*cols) for k in range(3)]


def _staged_late_run_uncached(spark: SparkSession, sf_dir: str, name: str):
    """Replay the straggler arrival through the late run ``name``'s
    transform; return (per-batch metrics, sink path)."""
    from pyspark.sql.types import StructType

    schema, transform = _LATE_RUNS[name]
    cols = StructType.fromDDL(schema).fieldNames()
    return replay_micro_batches(
        _straggler_batches(spark, sf_dir, cols), schema, transform, _work_dir(name)
    )


def _arrival_metrics(spark: SparkSession, metrics) -> DataFrame:
    """Batches 0..2 are the three landing files; the trailing no-data batch
    (state eviction pass) is engine bookkeeping, not an arrival, so it is
    excluded from the arrival metrics."""
    rows = [(b, n, d) for b, n, d in metrics if b <= 2]
    return spark.createDataFrame(
        rows, "batch_seq bigint, n_input bigint, n_late_dropped bigint"
    )


@register("streaming_late_data_metrics", oracle=STREAMING_LATE_METRICS_ORACLE)
def streaming_late_data_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data observability: per-micro-batch input and
    dropped-by-watermark counts from the STREAMING ENGINE's own state
    metrics, certified against a SQL replay of the watermark algebra.

    The events table is staged as a 3-file landing directory that
    reproduces a real out-of-order arrival: files cover the time range in
    thirds (mtime-ordered), except rows of straggler users
    (user_id % 10 == 7) deliver two files LATE — the canonical pattern of
    a delayed upstream partition (two, not one, because Spark's late
    filter lags eviction by a batch: a one-batch delay never drops). A
    30-minute watermark + 1h tumbling count then drops exactly the
    straggler WINDOWS that already closed (the late filter runs
    post-merge, one row per window — see the pinned contract), and
    the query returns (batch_seq, n_input, n_late_dropped) per micro-batch
    from numRowsDroppedByWatermark — the metric an operator alarms on.

    Determinism: batch membership is integer arithmetic on epoch micros
    (terciles of the [min, max] span) + the straggler shift, so the oracle
    recomputes the same file assignment (STRAGGLER_SPLIT_SQL), replays the
    two-watermark propagation (LAGGED_WATERMARK_SQL), and reproduces the
    engine's drop counts exactly.

    Scale shape: the metrics ride the state operator the aggregation
    already runs — no extra shuffle, no second pass; the landing-dir
    staging is fixture plumbing (a real corpus's files arrive from
    upstream). State is bounded by the watermark horizon exactly as in
    streaming_hourly_event_counts; the returned frame is
    O(micro-batches), not O(rows).

    Engine-version coupling: the oracle replays the two-watermark lag
    (late filter one batch behind eviction) pinned EMPIRICALLY against
    Spark 3.x/4.x behavior in tests/test_streaming_late_metrics.py — a
    Spark upgrade that changes the lag model fails those pins first.
    """
    metrics, _sink = _staged_late_run(spark, sf_dir, "late")
    return _arrival_metrics(spark, metrics)


# Sink-side oracle for the same 3-batch straggler run: which windows the
# append-mode aggregation EMITS, and with which counts, when late merged
# rows were dropped along the way.
#
# Two consequences of the pinned two-watermark contract make this exact:
# (1) a row accepted in batch k has window end > lagged_wm(k) =
#     current_wm(k-1), and eviction through the end of batch k-1 removed
#     only windows with end <= current_wm(k-1) — so an accepted row can
#     never target an already-evicted window, and append mode emits every
#     window AT MOST ONCE (no duplicate keys in the sink) even with late
#     data in flight;
# (2) a window's emitted count is therefore the rows whose OWN batch kept
#     them: row contributes iff win_end > lagged_wm(batch(row)).
# The final no-data batch advances the watermark to max(all) - delay and
# emits every window with end <= it.
STREAMING_LATE_SINK_ORACLE = f"""
WITH {STRAGGLER_SPLIT_SQL},
{LAGGED_WATERMARK_SQL},
w AS (SELECT batch, (us // 3600000000) * 3600000000 AS win_start_us FROM b),
final_wm AS (SELECT max(us) - {_HALF_HOUR_US} AS w FROM e),
kept AS (
  SELECT w.win_start_us
  FROM w LEFT JOIN pw ON w.batch = pw.tgt
  WHERE pw.wm_us IS NULL OR w.win_start_us + 3600000000 > pw.wm_us
)
SELECT make_timestamp(win_start_us) AS window_start,
       CAST(count(*) AS BIGINT) AS n_events
FROM kept, final_wm
WHERE win_start_us + 3600000000 <= final_wm.w
GROUP BY 1
"""


@register("streaming_late_sink_counts", oracle=STREAMING_LATE_SINK_ORACLE)
def streaming_late_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SINK side of the staged late-data run: the windows the
    append-mode aggregation emitted across the 3-batch straggler arrival,
    certified against a SQL replay of acceptance + eviction.

    What this certifies beyond streaming_hourly_event_counts (single
    conceptual batch, no drops): multi-micro-batch EXACTLY-ONCE window
    emission while late data is being dropped mid-stream — each window
    appears at most once in the sink (consequence (1) above: the filter's
    one-batch lag makes resurrecting an evicted window impossible), and
    its count excludes exactly the rows whose merged partials were
    dropped. A duplicated window key, a double-counted late row, or an
    early/late emission all break the value hash.

    Scale shape: identical to the hourly rollup — watermark-bounded state,
    one shuffle onto the window key; the sink is what a downstream
    consumer actually reads, so this is the end-to-end artifact of the
    late-data story.

    Engine-version coupling: consequences (1)-(2) above derive from the
    empirically-pinned two-watermark lag (tests/test_streaming_late_
    metrics.py, Spark 3.x/4.x) — a Spark upgrade that changes the lag
    model fails those pins first.
    """
    _metrics, sink = _staged_late_run(spark, sf_dir, "late")
    return spark.read.parquet(sink).select(
        "window_start", F.col("n_events").cast("bigint").alias("n_events")
    )


# ---------------------------------------------------------------------------
# Session windows under late data: the stateful-merge twin of the tumbling
# late-data pair above, over the same 3-file straggler arrival. Session
# state is MERGED (not keyed by a fixed window), so the late-data story is
# materially different; every contract below is pinned EMPIRICALLY
# (tests/test_streaming_session_late.py):
#
# 1. The late filter judges RAW ROWS, each by its OWN horizon: row dropped
#    iff ts + gap <= lagged_wm (non-strict), where lagged_wm is the
#    previous batch's watermark (same one-batch lag as the tumbling
#    contract). Two late rows that would merge into one session still
#    count 2 in numRowsDroppedByWatermark — unlike tumbling, where the
#    filter sits post-merge and counts windows. A mixed-fate pair (one row
#    below the horizon, one above, within a gap of each other) drops
#    exactly the below-horizon row.
# 2. Rows merge into one session iff their gap is <= the session gap
#    (NON-strict: an event at exactly last_ts + gap still merges).
# 3. Eviction/emission at the end of batch k uses the CURRENT watermark
#    (max event time over batches <= k-1, minus delay) and is non-strict
#    (session end == watermark emits); the final no-data batch emits with
#    max(all) - delay.
# 4. NO EXACTLY-ONCE-PER-SPAN: an accepted late row whose interval
#    overlaps an ALREADY-EVICTED session starts a FRESH session — the sink
#    can legitimately contain OVERLAPPING sessions for one user (measured:
#    [10:00,10:30) then [10:20,10:50) after a two-batch-late arrival).
#    Consequence (1) of the tumbling contract does NOT carry over; the
#    oracle must replay the batch-wise evict-then-restart dynamics, not
#    globally sessionize the accepted rows.
#
# The replay is exact because session identity is a pure function of the
# row multiset (interval chaining is associative), so "state sessions +
# new batch rows" == sessionize(all unevicted rows), and removing an
# emitted session removes a whole connected component without disturbing
# the rest. With 3 data batches the replay unrolls to three
# sessionize+evict levels plus the final no-data eviction.
# ---------------------------------------------------------------------------

STREAMING_SESSION_LATE_METRICS_ORACLE = f"""
WITH {STRAGGLER_SPLIT_SQL},
{LAGGED_WATERMARK_SQL}
SELECT b.batch AS batch_seq,
       CAST(count(*) AS BIGINT) AS n_input,
       CAST(sum(CASE WHEN b.us + {_HALF_HOUR_US} <= pw.wm_us THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late_dropped
FROM b LEFT JOIN pw ON b.batch = pw.tgt
GROUP BY 1 ORDER BY 1
"""


def _sessionize_sql(src: str, out: str) -> str:
    """One replay level: gap-sessionize ``src`` (user_id, us) into
    ``{out}s`` (rows tagged with session ids) and ``{out}e`` (one row per
    session: start/end/count). Non-strict merge — new session only when
    the gap to the previous event EXCEEDS the session gap (contract 2).
    Two window steps (flag, then cumulative sum): DuckDB rejects nested
    window calls."""
    return f"""
{out}f AS (
  SELECT us, user_id,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   > {_HALF_HOUR_US} THEN 1 ELSE 0 END AS new_s
  FROM {src}
),
{out}s AS (
  SELECT us, user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sid
  FROM {out}f
),
{out}e AS (
  SELECT user_id, sid, min(us) AS s_us, max(us) + {_HALF_HOUR_US} AS e_us,
         count(*) AS n
  FROM {out}s GROUP BY 1, 2
)"""


STREAMING_SESSION_LATE_SINK_ORACLE = f"""
WITH {STRAGGLER_SPLIT_SQL},
wm AS (
  SELECT (SELECT max(us) FROM b WHERE batch <= 0) - {_HALF_HOUR_US} AS w1,
         (SELECT max(us) FROM b WHERE batch <= 1) - {_HALF_HOUR_US} AS w2,
         (SELECT max(us) FROM b) - {_HALF_HOUR_US} AS wf
),
acc AS (
  SELECT us, user_id, batch FROM b, wm
  WHERE batch < 2 OR us + {_HALF_HOUR_US} > wm.w1
),
l2 AS (SELECT us, user_id FROM acc WHERE batch <= 1),
{_sessionize_sql("l2", "l2")},
emit2 AS (SELECT l2e.* FROM l2e, wm WHERE e_us <= wm.w1),
l3 AS (
  SELECT s.us, s.user_id FROM l2s s
  LEFT JOIN emit2 m ON m.user_id = s.user_id AND m.sid = s.sid
  WHERE m.sid IS NULL
  UNION ALL
  SELECT us, user_id FROM acc WHERE batch = 2
),
{_sessionize_sql("l3", "l3")},
emit3 AS (SELECT l3e.* FROM l3e, wm WHERE e_us <= wm.w2),
l4 AS (
  SELECT s.us, s.user_id FROM l3s s
  LEFT JOIN emit3 m ON m.user_id = s.user_id AND m.sid = s.sid
  WHERE m.sid IS NULL
),
{_sessionize_sql("l4", "l4")},
emitf AS (SELECT l4e.* FROM l4e, wm WHERE e_us <= wm.wf)
SELECT user_id, make_timestamp(s_us) AS session_start,
       make_timestamp(e_us) AS session_end,
       CAST(n AS BIGINT) AS n_events
FROM (SELECT user_id, s_us, e_us, n FROM emit2
      UNION ALL SELECT user_id, s_us, e_us, n FROM emit3
      UNION ALL SELECT user_id, s_us, e_us, n FROM emitf)
"""


@register("streaming_session_late_metrics", oracle=STREAMING_SESSION_LATE_METRICS_ORACLE)
def streaming_session_late_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch input and dropped-by-watermark counts for a SESSION
    aggregation under the 3-batch straggler arrival — certifying contract
    (1) above: session-window late drops count raw rows, each judged by
    its own ts + gap horizon against the one-batch-lagged watermark.

    MODELED DOMAIN: the raw-row unit is proven on the certified fixtures
    by the oracle match itself (sf0.001, sf0.01 and sf0.1). Under heavy late-row COLLISIONS the engine's
    counter deviates from raw rows in ways no simple merged-unit model
    reproduces either — probed directly in
    tests/test_session_late_drop_units.py: 4 exact-duplicate late rows ->
    1 drop, two separate late sessions of one user -> 1 drop, a fully-late
    two-row merged session -> 0 drops, 4 distinct users -> 4. The x4
    replication regime manufactures exactly those collisions (4 duplicates
    of every late row), so THIS query is outside its oracle's modeled
    domain there (engine 324 vs raw-model 1296 on the x4 tables); the
    probe test pins the engine behaviors so an engine upgrade that changes
    them is caught first.

    Scale shape: the metrics ride the session state operator the
    aggregation already runs — no extra pass; the frame is
    O(micro-batches).

    Engine-version coupling: contracts (1)-(4) are empirical Spark
    3.x/4.x behavior (tests/test_streaming_session_late.py) — an engine
    upgrade that changes the session state operator fails those pins
    first.
    """
    metrics, _sink = _staged_late_run(spark, sf_dir, "sess")
    return _arrival_metrics(spark, metrics)


@register("streaming_session_late_sink", oracle=STREAMING_SESSION_LATE_SINK_ORACLE)
def streaming_session_late_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SINK side of the staged session-late run: which merged sessions
    the append-mode session aggregation emitted, batch by batch, while
    late rows were dropped and late-but-accepted rows re-opened spans
    whose earlier sessions had already been evicted (contract 4: the sink
    may legitimately contain overlapping sessions — a batch sessionization
    of the same rows CANNOT reproduce this, only the batch-wise replay
    can). A wrong merge boundary, an early/late eviction, a mis-dropped
    row, or a missed overlap-restart all break the value hash.

    Scale shape: session state is bounded by the watermark horizon
    (unclosed sessions only); one shuffle onto (user, session) state.

    Engine-version coupling: see streaming_session_late_metrics.
    """
    _metrics, sink = _staged_late_run(spark, sf_dir, "sess")
    return spark.read.parquet(sink).select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance ≡ recompute: a per-user
# purchase aggregate maintained additively across three appended micro-batch
# files — each append processed by a FRESH AvailableNow run against the same
# checkpoint (so the demo also exercises restart/resume) — whose final sink
# must hash-match the from-scratch batch answer. Exactness: partials are
# BIGINT counts and BIGINT value cents (round-half-away, both engines), so
# merge(b3, merge(b2, b1)) == batch(b1 ∪ b2 ∪ b3) is integer-associative —
# no accumulation-order argument needed. tests/test_incremental_merge.py
# additionally pins no-new-data idempotence (a re-run with the same
# checkpoint and no new files must not change the sink).
# ---------------------------------------------------------------------------


@register(
    "incremental_recompute_equivalence",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             AS total_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def incremental_recompute_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance certified equivalent to recompute: per-user
    purchase count + exact cent sum, maintained across THREE appended
    micro-batch files by run_foreach_batch_merge (read sink → union new
    partials → re-aggregate → atomic swap), each append handled by a fresh
    AvailableNow query on the SAME checkpoint — three genuine
    restart/resume cycles, with the checkpoint guaranteeing each file is
    aggregated exactly once. The oracle is the from-scratch batch answer,
    so the driver's value hash certifies incremental ≡ recompute (and
    cross-engine) in one row.

    The reference's whole scheduler is file-existence memoization
    (dpl/processor/engine.py:55-74, base.py:135 — skip when outputs
    exist); this is its principled Spark form, upgraded from skip-or-redo
    to additive view maintenance.

    Determinism: micro-batch membership is pmod(event_id, 3) — layout-
    independent — and partials are BIGINT (count, cents), so the merged
    totals are integer-exact under ANY batch order or file split; the
    single /100.0 display division is correctly rounded on both engines.

    Scale shape: each micro-batch reduces map-side to per-key partials
    (one combinable agg), the merge joins |sink| keys once per batch, and
    the sink swap is the only full rewrite — at 100 TB the swap becomes a
    Delta/Iceberg MERGE on the same combine expression and the partials
    pattern is unchanged. State lives in the sink, not the state store."""
    from talkinghead_datapipeline_spark.functions.geometry import round_half_away
    from talkinghead_datapipeline_spark.streaming.incremental import (
        run_foreach_batch_merge,
    )

    from talkinghead_datapipeline_spark.catalog import load_table, persist_once

    # persist the projected purchase frame: the three split-writes below
    # each filter it, and without the cut each write would re-scan events
    # (the splits are harness scaffolding — in production the micro-batch
    # files ARRIVE; the operator under certification is the merge)
    ev = persist_once(
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value")
    )

    work = _work_dir("ivm")
    src = os.path.join(work, "src")
    os.makedirs(src)
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")

    def batch_agg(batch: DataFrame) -> DataFrame:
        return batch.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(round_half_away(F.col("value") * 100))
            .cast("bigint")
            .alias("sum_value_cents"),
        )

    def re_agg(parts: DataFrame) -> DataFrame:
        return parts.groupBy("user_id").agg(
            F.sum("n_purchases").cast("bigint").alias("n_purchases"),
            F.sum("sum_value_cents").cast("bigint").alias("sum_value_cents"),
        )

    schema = "user_id bigint, event_id bigint, value double"
    for i in range(3):
        stage = os.path.join(work, f"stage_{i}")
        ev.filter(F.pmod("event_id", F.lit(3)) == i).write.parquet(stage)
        for j, f in enumerate(sorted(os.listdir(stage))):
            if f.endswith(".parquet"):
                shutil.move(
                    os.path.join(stage, f),
                    os.path.join(src, f"batch{i}-{j:04d}.parquet"),
                )
        # a FRESH AvailableNow query per append: restart + resume from the
        # shared checkpoint, processing only the files not yet seen
        run_foreach_batch_merge(
            spark,
            source_dir=src,
            schema=schema,
            batch_agg=batch_agg,
            re_agg=re_agg,
            sink_path=sink,
            checkpoint_dir=ckpt,
        )

    return spark.read.parquet(sink).select(
        "user_id",
        "n_purchases",
        "sum_value_cents",
        (F.col("sum_value_cents") / 100.0).alias("total_value"),
    )
