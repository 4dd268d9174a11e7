"""Batched-inference scaffolding (SURVEY §2.b N6-N8, N14-N17; §3.2).

The reference wraps every model node in the same shape: a lazily-loaded
expensive resource (``BaseResource``, dpl/processor/nodes/base.py:30-54),
batched array input via a DataLoader, device transfer, whole-batch error
quarantine (dpl/processor/nodes/audio.py:65-70). Spark-first, that shape is:

- ``mapInPandas`` over Arrow record batches (the DataLoader analog — batch
  size via ``spark.sql.execution.arrow.maxRecordsPerBatch``);
- a **per-executor-process lazy singleton** for the model (loaded once per
  python worker, not per batch — the BaseResource analog);
- an **error-channel column** instead of a driver-side report accumulator
  (E8: accumulators are not exactly-once; a status column is).

Models are pluggable callables; the correctness tier ships deterministic
stand-ins (models.py) because GPU weights are out of scope for the oracle
harness — the Spark-side plumbing (schema, partitioning, batching, lazy
cache) is the real, tested artifact.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from talkinghead_datapipeline_spark.shipping import ensure_package_shipped, release_zip_finders

# Per-python-worker resource cache (one model instance per executor process,
# exactly the BaseResource lifetime re-expressed for Spark workers): key ->
# (name of the factory that built it, resource).
_RESOURCE_CACHE: dict[str, tuple[str, Any]] = {}


def _factory_name(factory: Callable[[], Any]) -> str:
    qualname = getattr(factory, "__qualname__", type(factory).__qualname__)
    return f"{getattr(factory, '__module__', None)}.{qualname}"


def get_executor_resource(key: str, factory: Callable[[], Any]) -> Any:
    """Lazily build and cache an expensive resource in this worker process.

    A key names one resource: requesting it with a factory other than the
    one that built it (by module and qualified name) raises ``ValueError``
    rather than handing back the other caller's model."""
    name = _factory_name(factory)
    if key not in _RESOURCE_CACHE:
        _RESOURCE_CACHE[key] = (name, factory())
    built_by, resource = _RESOURCE_CACHE[key]
    if built_by != name:
        raise ValueError(
            f"model_key {key!r} was built by {built_by}, not by {name}; "
            "give each model factory its own key"
        )
    return resource


def stack_column(col: pd.Series) -> np.ndarray:
    """Stack an Arrow ``array<double>`` or ``array<array<double>>`` pandas
    column into one float64 ndarray of shape (rows, ...) — how a batch
    function turns its input into the arrays a batched model call takes.

    Arrow hands a nested array over as an object array of arrays, which
    ``np.asarray`` cannot convert, so each such row is stacked first.
    Ragged rows raise ``ValueError``, and ``batched_inference`` quarantines
    the batch."""
    rows = [np.stack(v) if getattr(v, "dtype", None) == object else v for v in col]
    return np.stack([np.asarray(v, dtype=np.float64) for v in rows])


def batched_inference(
    df: DataFrame,
    output_schema: str,
    model_key: str,
    model_factory: Callable[[], Any],
    batch_fn: Callable[[Any, pd.DataFrame], pd.DataFrame],
) -> DataFrame:
    """Run ``batch_fn(model, batch)`` over Arrow batches with a lazy
    per-executor model and whole-batch error quarantine.

    The contract: ``output_schema`` (a DDL string) lists only the model's
    output columns, and ``batch_fn`` returns a frame of those columns for a
    non-empty batch. The harness owns the rest:

    - it appends an ``error string`` column, null on success;
    - it never calls ``batch_fn`` on an empty batch;
    - when ``batch_fn`` raises, every row of that batch is emitted with the
      input's values for the output columns it shares, nulls for the rest,
      and the exception text in ``error`` — the pipeline continues,
      mirroring run_sequence's RuntimeError containment
      (dpl/processor/nodes/base.py:137-142) at batch grain
      (audio.py:65-70). ``split_error_channel`` splits the result.

    When the task's batches are done, the worker's zipimport finders are
    released (``shipping.release_zip_finders``), so the next task on the
    reused worker does not re-read ``pyspark.zip`` and the Spark jar.
    """
    from pyspark.sql.types import StructType

    ensure_package_shipped(df.sparkSession)
    # Parse the DDL properly (driver-side, once): naive comma-splitting
    # breaks on struct<...>/map<k,v>/decimal(p,s) field types.
    out_cols = StructType.fromDDL(output_schema).fieldNames()

    def _infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            model = get_executor_resource(model_key, model_factory)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                try:
                    out = batch_fn(model, pdf)
                    out["error"] = None
                except Exception as exc:  # noqa: BLE001 — quarantine, don't abort
                    # missing model-output columns become object-dtype None
                    # (NOT float NaN — Arrow nulls them cleanly for any type).
                    none_col = pd.Series([None] * len(pdf), dtype=object, index=pdf.index)
                    out = pd.DataFrame(
                        {c: pdf[c] if c in pdf.columns else none_col for c in out_cols}
                    )
                    out["error"] = f"{type(exc).__name__}: {exc}"
                yield out
        finally:
            release_zip_finders()

    return df.mapInPandas(_infer, schema=f"{output_schema}, error string")


def split_error_channel(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok_rows, quarantined_rows) of a ``batched_inference`` output — the
    E8 report.json analog as data."""
    return df.filter(df["error"].isNull()).drop("error"), df.filter(df["error"].isNotNull())
