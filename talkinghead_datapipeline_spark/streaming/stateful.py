"""Custom stateful streaming operators via ``applyInPandasWithState``
(north-star: "applyInPandasWithState for custom stateful operators").

Where ``session_window``/``window`` cover the declarative cases
(streaming_queries.py), arbitrary per-key state — running counters,
last-seen caches, custom eviction — needs the imperative hook. The shape
below is the canonical one: group by key, fold each micro-batch's rows into
a state tuple, emit the updated row. State lives in the state store
(checkpointed, exactly-once under AvailableNow restarts).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: keep the FIRST row per ``content_hash`` within
    a one-hour ``ts`` watermark horizon — ``dropDuplicatesWithinWatermark``, the
    streaming twin of ``operators.dedup.exact_dedup`` and the ingest-side
    guard of the corpus dedup stack (duplicates that arrive within the
    horizon never reach the sink; state for a hash is evicted once the
    watermark passes it, so state size is bounded by the horizon's
    arrival volume — the property that makes it safe on an unbounded
    crawl firehose, where a plain ``dropDuplicates`` would grow state
    forever)."""
    return docs.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["content_hash"])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, sum_value) maintained in explicit group
    state. Each micro-batch emits one updated row per active user — the
    streaming twin of ``groupBy(user).agg(count, sum)`` but with state the
    caller can extend (rate limits, dedup caches, anomaly windows)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 6)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_extents(events: DataFrame) -> DataFrame:
    """Per-user (n_events, min_event_id, max_event_id) in explicit group
    state — the ORACLE-CERTIFIABLE ``applyInPandasWithState`` shape: all
    three state fields are order-independent int64 folds (count, min,
    max), so unlike a float running sum the emitted values are exact and
    independent of row order inside a micro-batch — a batch GROUP BY
    reproduces them bit-for-bit. Append output mode pairs with the
    parquet file sink (update mode is memory/foreach-only)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, mn, mx = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                bmin = int(pdf["event_id"].min())
                bmax = int(pdf["event_id"].max())
                mn = bmin if mn is None else min(mn, bmin)
                mx = bmax if mx is None else max(mx, bmax)
        state.update((n, mn, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "min_event_id": [mn],
                "max_event_id": [mx],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, n_events bigint,"
            " min_event_id bigint, max_event_id bigint"
        ),
        stateStructType="n bigint, mn bigint, mx bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """Probe for ``transformWithStateInPandas``'s runtime dependency: the
    API's Python worker speaks a protobuf state-server protocol
    (pyspark/sql/streaming/proto/StateMessage_pb2), so it requires
    ``google.protobuf`` — absent in this runtime (probed 2026-08-14,
    installs disallowed), making the whole API an environment gate like
    h5py/PIL: real plumbing below, gate raises with the probe result."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def tws_user_type_stats(events: DataFrame) -> DataFrame:
    """Per-(user, event_type) running (n_events, min_value, max_value) via
    ``transformWithStateInPandas`` — Spark 4's successor to
    ``applyInPandasWithState``: state is declared through a typed handle
    (ValueState/ListState/MapState + timers) instead of one opaque tuple,
    which is what makes multi-state operators (cache + counter + TTL
    eviction in one processor) composable. Same oracle-certifiability rule
    as ``running_user_extents``: every emitted field is an
    order-independent exact fold (int64 count, double min/max — min/max on
    IEEE doubles are exact regardless of fold order), so a batch GROUP BY
    reproduces the single-micro-batch emission bit-for-bit.

    Scale: state is one fixed-width row per distinct (user, event_type) —
    the bounded-cardinality contract; the RocksDB state-store backend this
    API targets holds billions of such keys per executor group."""
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires google.protobuf (its "
            "Python worker's state-server protocol); not available in this "
            "runtime — see tws_available()"
        )
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _Stats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n bigint, mn double, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._state.exists():
                n, mn, mx = self._state.get()
            else:
                n, mn, mx = 0, None, None
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                bmn = float(pdf["value"].min())
                bmx = float(pdf["value"].max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            self._state.update((n, mn, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "n_events": [n],
                    "min_value": [round(mn, 6)],
                    "max_value": [round(mx, 6)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id", "event_type").transformWithStateInPandas(
        statefulProcessor=_Stats(),
        outputStructType=(
            "user_id bigint, event_type string, n_events bigint,"
            " min_value double, max_value double"
        ),
        outputMode="Append",
        timeMode="None",
    )
