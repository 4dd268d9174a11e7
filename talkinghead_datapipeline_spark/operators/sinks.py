"""Sinks (SURVEY §2.b N19-N23, §2.d sinks): Parquet-native, with optional
bit-compat container export.

The reference materializes every output as files-by-convention — npy/npz
per clip (a2en.py:45, fa.py:89-91), gzip/JPEG HDF5 containers (h5.py:37-83),
image folders. Spark-first, the durable sink is **Parquet** (columnar +
compressed + splittable — everything the jpegHDF5 plugin hand-builds), with:

- ``write_partitioned``: hive-style partition pruning for downstream reads;
- ``write_bucketed``: pre-shuffled layout so repeated joins/aggs on the
  bucket key skip their exchange (the 100 TB co-location story);
- ``write_npz_per_key``: exact ``.npz`` container per key for consumers
  that need the reference's numpy format (np.load-compatible), written
  distributed via ``applyInPandas`` — no driver collect;
- HDF5 export is feature-gated: h5py is not in this runtime
  (NotImplementedError), and Parquet is the native path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


#: Columnar formats this runtime serves natively (no extra packages):
#: parquet is the default sink everywhere; ORC is the interchange format
#: for Hive/Trino-centric consumers — same pruning, pushdown, and
#: partitioned-layout behavior through the identical DataSource API.
COLUMNAR_FORMATS = ("parquet", "orc")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
) -> None:
    """Partitioned columnar sink — partition values become directory keys,
    so downstream filters on them are pruned at file-listing time. ``fmt``
    selects the container (parquet default, orc for Hive/Trino-side
    consumers); layout and pruning semantics are identical."""
    if fmt not in COLUMNAR_FORMATS:
        raise ValueError(f"fmt must be one of {COLUMNAR_FORMATS}, got {fmt!r}")
    df.write.mode("overwrite").partitionBy(*partition_by).format(fmt).save(path)


def write_bucketed(df: DataFrame, table_name: str, bucket_cols: list[str], n_buckets: int) -> None:
    """Bucketed managed table: rows are hash-distributed into ``n_buckets``
    files per partition by ``bucket_cols``. Joins/aggregations between
    tables bucketed the same way need no shuffle — the E7-style memoization
    anti-join and the repeated clip-key joins (N18/N21) become exchange-free.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    writer.format("parquet").saveAsTable(table_name)


def write_npz_per_key(
    df: DataFrame, out_dir: str, key_col: str, array_cols: list[str]
) -> DataFrame:
    """N18's npz container sink (a2en.py:45): one ``{key}.npz`` per key with
    one array per column, written inside the executors (grouped
    applyInPandas — each key's rows land in one task; nothing funnels
    through the driver). Returns a (key, path, n_rows) manifest DataFrame.

    Array cells may be scalars or array columns; each npz entry is the
    column's values stacked in ``_row_idx`` order (callers add one when
    row order matters — there is no implicit order at scale).
    """
    import numpy as np
    import pandas as pd

    from talkinghead_datapipeline_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    os.makedirs(out_dir, exist_ok=True)

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        if "_row_idx" in pdf.columns:
            pdf = pdf.sort_values("_row_idx")
        arrays = {c: np.stack(list(pdf[c])) for c in array_cols}
        path = os.path.join(out_dir, f"{key}.npz")
        np.savez(path, **arrays)
        return pd.DataFrame(
            {"key": [str(key)], "path": [path], "n_rows": [len(pdf)]}
        )

    return df.groupBy(key_col).applyInPandas(
        write_group, schema="key string, path string, n_rows bigint"
    )


def write_hdf5_per_key(*_args, **_kwargs) -> None:
    """N19 HDF5 container sink (h5.py:19-92). STUB: h5py (and the jpegHDF5
    plugin, .gitmodules:1-3) are not in this runtime; Parquet is the native
    columnar+compressed sink. A drop-in would mirror write_npz_per_key with
    h5py.File + gzip/jpeg dataset creation inside write_group."""
    raise NotImplementedError("h5py not available in this runtime; use parquet sinks")


def write_image_folders(df: DataFrame, out_dir: str) -> DataFrame:
    """The reference's frame-folder sink ({out}/{clip}/%06d.jpg —
    dpl/processor/datatype.py:42-57, written by N2/N13/N17): binary frame
    rows ``(clip_name, frame_idx, image)`` land as files, one directory per
    clip, written inside executors via foreachPartition semantics
    (applyInPandas per clip so each clip's frames are colocated in one
    task). Pure byte pass-through — no codec needed; whatever encoding the
    payload column carries is what lands. Returns a (key, n_frames, dir)
    manifest.
    """
    import pandas as pd

    from talkinghead_datapipeline_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    os.makedirs(out_dir, exist_ok=True)

    def write_clip(pdf: pd.DataFrame) -> pd.DataFrame:
        key = str(pdf["clip_name"].iloc[0])
        clip_dir = os.path.join(out_dir, key)
        os.makedirs(clip_dir, exist_ok=True)
        for idx, payload in zip(pdf["frame_idx"], pdf["image"]):
            with open(os.path.join(clip_dir, f"{int(idx):06d}.jpg"), "wb") as f:
                f.write(bytes(payload))
        return pd.DataFrame(
            {"key": [key], "n_frames": [len(pdf)], "dir": [clip_dir]}
        )

    return df.groupBy("clip_name").applyInPandas(
        write_clip, schema="key string, n_frames bigint, dir string"
    )
