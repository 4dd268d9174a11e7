"""Incremental execution: memoization anti-join + AvailableNow streaming
(SURVEY §2.a E7/E11, §4 "incremental recompute").

The reference skips a row when all its outputs already exist (``base.py:135``)
and pipelines chunks through nodes (``engine.py:55-74``). Spark-native forms:

- **Batch incremental** (``pending_keys``): LEFT ANTI join of candidate keys
  against the sink's existing keys. One shuffle on the key — or zero when
  the sink is read back partitioned/bucketed the same way.
- **Streaming incremental** (``run_available_now``): Structured Streaming
  file source + ``Trigger.AvailableNow`` + checkpoint — exactly-once
  incremental over growing directories, the principled version of the
  reference's file-existence memoization (no TOCTOU, no partial-output
  hazard). E11's chunk pipelining is the micro-batch itself.
- **Micro-batch replay** (``replay_micro_batches``): an ordered list of
  batch frames staged as one mtime-ordered landing file each and read one
  file per trigger, returning the engine's per-batch input and
  dropped-by-watermark counts — the one place the deterministic arrival
  contract behind the late-data oracles is written.
- **foreachBatch sinks** (``run_foreach_batch_upsert``,
  ``run_foreach_batch_merge``): keyed upsert and additive merge into a
  parquet sink.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _sink_exists(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists on the sink's filesystem (Hadoop FS API —
    works for any scheme, not just local).

    Sink-read failures must NOT be conflated with "first run": a transient
    read error (corrupt footer, concurrent writer) treated as first-run
    would silently drop or duplicate previously-written rows. Existence is
    checked explicitly; real read errors propagate.
    """
    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(jconf).exists(jpath)


def pending_keys(candidates: DataFrame, done: DataFrame, key: str | list[str]) -> DataFrame:
    """E7: rows of ``candidates`` whose ``key`` is absent from ``done``."""
    keys = [key] if isinstance(key, str) else list(key)
    return candidates.join(done.select(*keys).distinct(), keys, "left_anti")


def incremental_append(
    candidates: DataFrame,
    sink_path: str,
    key: str | list[str],
    recompute: bool = False,
) -> int:
    """Memoized materialization: append only pending rows to a parquet sink
    (the recompute flag mirrors the reference's override, base.py:135).
    Returns the number of rows appended."""
    spark = candidates.sparkSession
    if _sink_exists(spark, sink_path):
        try:
            done = spark.read.parquet(sink_path)
        except Exception as e:
            # existence is already established, so ANY read failure here is
            # an error, never "first run" — appending blind would duplicate
            # every previously-written key. (Corrupt footers surface as
            # raw JVM errors, not AnalysisException, hence the broad catch
            # behind the existence gate.)
            raise RuntimeError(f"sink {sink_path} exists but is unreadable") from e
        todo = candidates if recompute else pending_keys(candidates, done, key)
    else:  # first run: sink does not exist yet
        todo = candidates
    n = todo.count()
    if n:
        todo.write.mode("append").parquet(sink_path)
    return n


def _start_available_now(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sink_path: str,
    checkpoint_dir: str,
):
    """Single point of stream assembly for the AvailableNow parquet→parquet
    runners (``run_available_now`` and ``replay_micro_batches``): append
    mode into a parquet sink, so a sink-option or trigger fix lands in
    both. Returns the started query."""
    return (
        transform(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | str,
    transform: Callable[[DataFrame], DataFrame],
    sink_path: str,
    checkpoint_dir: str,
) -> None:
    """Process all currently-available files through ``transform`` with
    exactly-once checkpointing, then stop (Trigger.AvailableNow)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    _start_available_now(stream, transform, sink_path, checkpoint_dir).awaitTermination()


def replay_micro_batches(
    batches: list[DataFrame],
    schema: StructType | str,
    transform: Callable[[DataFrame], DataFrame],
    work_dir: str,
) -> tuple[list[tuple[int, int, int]], str]:
    """Replay ``batches`` as an ordered micro-batch arrival through
    ``transform`` and return ``(metrics, sink_path)``.

    The arrival contract: each batch is written as ONE landing file under
    ``work_dir/src`` with a strictly increasing mtime, and the file source
    reads them with ``maxFilesPerTrigger=1`` under ``Trigger.AvailableNow``,
    so micro-batch ``k`` is exactly ``batches[k]``. The batch sequence, and
    therefore every watermark advance, is deterministic, which is what lets
    a SQL oracle reproduce late-drop counts exactly. ``schema`` is the
    stream's explicit schema (the landing files' types cannot drift). The
    transform's output is appended to the parquet sink ``work_dir/sink``.

    ``metrics`` is ``[(batch_id, num_input_rows,
    num_rows_dropped_by_watermark)]`` for every micro-batch of THIS query,
    trailing no-data (eviction) batches included. They are captured
    through a ``StreamingQueryListener`` filtered by query id (other
    streaming queries on the session are invisible):
    ``query.recentProgress`` alone is NOT a reliable record (observed
    dropping a batch's entry under AvailableNow multi-batch runs), while
    the listener receives one ``QueryProgressEvent`` per committed batch.
    """
    import glob
    import shutil
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    spark = batches[0].sparkSession
    src = os.path.join(work_dir, "src")
    os.makedirs(src)
    for k, batch in enumerate(batches):
        staged = os.path.join(work_dir, f"b{k}")
        batch.coalesce(1).write.parquet(staged)
        part = next(f for f in sorted(os.listdir(staged)) if f.endswith(".parquet"))
        landing = os.path.join(src, f"batch-{k:05d}.parquet")
        shutil.move(os.path.join(staged, part), landing)
        os.utime(landing, (1_000_000 + k, 1_000_000 + k))
    sink = os.path.join(work_dir, "sink")
    checkpoint_dir = os.path.join(work_dir, "ckpt")

    progress_rows: list[tuple[str, int, int, int]] = []
    terminated: dict[str, threading.Event] = {}
    lock = threading.Lock()

    class _Capture(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            # Sum across ALL state operators: a transform with more than
            # one stateful stage (e.g. dedup + windowed agg) drops rows at
            # each of them; reading only operator 0 would under-report.
            dropped = sum(
                op.numRowsDroppedByWatermark for op in p.stateOperators
            )
            with lock:
                progress_rows.append(
                    (str(p.id), p.batchId, p.numInputRows, dropped)
                )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            with lock:
                terminated.setdefault(str(event.id), threading.Event()).set()

    listener = _Capture()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        query = _start_available_now(stream, transform, sink, checkpoint_dir)
        qid = str(query.id)
        query.awaitTermination()
        # Progress events arrive on the Python listener bus asynchronously
        # and NOT reliably before the termination event (observed: a data
        # batch's progress delivered after onQueryTerminated). The
        # checkpoint's commits/ dir is the authoritative batch record, so
        # poll until every committed batch id has a captured progress row;
        # a missing-metrics return would silently corrupt a
        # correctness-gated result, so time out LOUDLY instead.
        with lock:
            ev = terminated.setdefault(qid, threading.Event())
        # awaitTermination() already returned, so the engine IS done; a
        # missing termination event within 60 s means the Python listener
        # bus is slow or wedged. That alone is NOT fatal: the commits-dir
        # poll below is the completeness check. The miss is remembered so
        # the poll's failure message names the real cause.
        term_delivered = ev.wait(timeout=60)
        committed = {
            int(os.path.basename(p))
            for p in glob.glob(os.path.join(checkpoint_dir, "commits", "*"))
            if os.path.basename(p).isdigit()
        }
        deadline = time.monotonic() + 60
        while True:
            with lock:
                have = {b for i, b, _n, _d in progress_rows if i == qid}
            if committed <= have:
                break
            if time.monotonic() > deadline:
                cause = (
                    " (listener bus also failed to deliver "
                    "onQueryTerminated within 60s — events are being "
                    "dropped or delayed)"
                    if not term_delivered
                    else ""
                )
                raise RuntimeError(
                    "progress events missing for batches "
                    f"{sorted(committed - have)}{cause}"
                )
            time.sleep(0.2)
        with lock:
            metrics = sorted(
                (b, n, d) for i, b, n, d in progress_rows if i == qid
            )
        return metrics, sink
    finally:
        spark.streams.removeListener(listener)


def tumbling_stream_agg(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """S9's tumbling mean as a watermarked streaming aggregation over ``ts``
    — the streaming twin of queries.windows.s9_tumbling_hourly."""
    from pyspark.sql import functions as F

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_foreach_batch_upsert(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | str,
    transform: Callable[[DataFrame], DataFrame],
    sink_path: str,
    checkpoint_dir: str,
    key: str | list[str],
) -> None:
    """Keyed UPSERT sink via foreachBatch: each micro-batch's rows replace
    same-key rows in the parquet sink (read → anti-join old → union →
    overwrite). The E7 memoization pattern inverted — recompute wins instead
    of skip — and the standard route to MERGE semantics on plain parquet
    (Delta/Iceberg replace this body with a real MERGE at scale).

    The overwrite is not atomic: ``mode("overwrite")`` deletes the sink's
    files before its write job runs, so a reader during the write sees no
    rows, and a crash mid-write leaves a partial sink: the rows of earlier
    batches that were not yet rewritten are gone, and the re-delivered batch
    cannot restore them. An atomic swap is ROADMAP item 5."""
    keys = [key] if isinstance(key, str) else list(key)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df)
        if _sink_exists(spark, sink_path):
            # an existing-but-unreadable sink must raise (fail the batch;
            # the checkpoint retries it) — treating it as "first batch"
            # would overwrite the whole sink with this batch alone.
            existing = spark.read.parquet(sink_path)
            kept = existing.join(out.select(*keys).distinct(), keys, "left_anti")
            merged = kept.unionByName(out)
        else:  # first batch: no sink yet
            merged = out
        # Materialize before the overwrite: merged reads sink_path, whose
        # files the overwrite deletes before its job runs. This keeps the
        # plan from reading the path it overwrites; it is no atomic swap.
        staged = merged.localCheckpoint(eager=True)
        staged.write.mode("overwrite").parquet(sink_path)

    query = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


# Metadata column carried in the merge sink: the highest micro-batch id
# already merged. It is written in the same files as the data, so it can
# never disagree with them the way a sidecar marker file could (a crash
# between data write and marker write would desynchronize the two). The
# overwrite itself is not atomic, though (see merge_batch_into_sink).
_BATCH_ID_COL = "_applied_batch_id"


def merge_batch_into_sink(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    batch_agg: Callable[[DataFrame], DataFrame],
    re_agg: Callable[[DataFrame], DataFrame],
    sink_path: str,
) -> bool:
    """One idempotent merge step: combine ``batch_df``'s per-key partials
    into the sink UNLESS this ``batch_id`` was already applied. Returns
    True when the batch was merged, False when it was skipped as a replay.

    foreachBatch delivery is AT-LEAST-ONCE: a failure after the sink
    overwrite but before the checkpoint's offset commit re-delivers the
    batch (same ``batch_id`` — Spark's contract) on restart. An additive
    merge is NOT replay-idempotent by itself (unlike the keyed upsert,
    where re-replacing the same keys is a no-op), so the sink carries a
    ``_applied_batch_id`` high-watermark column: batch ids are monotonic
    per checkpoint, so ``batch_id <= max(applied)`` identifies a replay
    exactly, and skipping it makes the at-least-once delivery effectively
    exactly-once. Sinks written before this column existed
    merge as before (watermark absent → never skip).

    The overwrite is not atomic: ``mode("overwrite")`` deletes the sink's
    files before its write job runs, so a reader during the write sees no
    rows, and a crash mid-write leaves a partial sink. If some of the new
    files were committed, they carry this ``batch_id``, so the re-delivered
    batch is skipped as a replay and the sink stays partial. An atomic swap
    is ROADMAP item 5.
    """
    if _sink_exists(spark, sink_path):
        existing = spark.read.parquet(sink_path).persist()
        try:
            applied = (
                existing.agg(F.max(_BATCH_ID_COL)).first()[0]
                if _BATCH_ID_COL in existing.columns
                else None
            )
            if applied is not None and batch_id <= applied:
                return False  # replayed batch: already merged into the sink
            merged = re_agg(
                existing.drop(_BATCH_ID_COL).unionByName(batch_agg(batch_df))
            )
            # Materialize before the overwrite: merged reads sink_path,
            # whose files the overwrite deletes before its job runs. This
            # keeps the plan from reading the path it overwrites; it is no
            # atomic swap.
            staged = merged.withColumn(
                _BATCH_ID_COL, F.lit(batch_id).cast("bigint")
            ).localCheckpoint(eager=True)
        finally:
            existing.unpersist()
    else:  # first batch: partials are already one row per key
        staged = (
            batch_agg(batch_df)
            .withColumn(_BATCH_ID_COL, F.lit(batch_id).cast("bigint"))
            .localCheckpoint(eager=True)
        )
    staged.write.mode("overwrite").parquet(sink_path)
    return True


def run_foreach_batch_merge(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | str,
    batch_agg: Callable[[DataFrame], DataFrame],
    re_agg: Callable[[DataFrame], DataFrame],
    sink_path: str,
    checkpoint_dir: str,
) -> None:
    """Additive keyed MERGE via foreachBatch — incremental VIEW MAINTENANCE
    for a distributive aggregate (the upsert cousin where the new batch
    COMBINES with, rather than replaces, the sink's same-key rows).

    ``batch_agg`` reduces one micro-batch to per-key PARTIALS in the sink
    schema; ``re_agg`` re-combines a frame of partials (existing sink rows ∪
    new partials) back to one row per key — for distributive aggregates
    (count/sum/min/max over exact types) this is the same groupBy that
    produced the partials, so ``merge(batch_k ∪ ... ∪ batch_1)`` equals the
    from-scratch batch answer EXACTLY and the equivalence is certifiable by
    hash. At scale the body becomes a Delta/Iceberg MERGE
    with the same combine expression; state lives in the sink, not the
    state store.

    Replay safety: foreachBatch is at-least-once, and the additive combine
    would double-count a replayed batch — so each merge goes through
    ``merge_batch_into_sink``, which persists the applied-batch
    high-watermark in the sink itself and skips batch ids at or below it
    (see its docstring). Downstream readers that select columns by name
    never see the ``_applied_batch_id`` metadata column.
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_sink(
            spark, batch_df, batch_id, batch_agg, re_agg, sink_path
        )

    query = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
