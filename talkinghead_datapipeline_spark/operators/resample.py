"""S7 — linear-interpolation resample of uniform-rate series (SURVEY §2.c S7).

Reference: ``resample(y, num, source_fps)`` at dpl/wav2vec/utils.py:5-21 —
re-grids a 50 fps audio-feature series onto the video frame count by linear
interpolation with extrapolation:

    x  = linspace(1/(2·src_fps), L/src_fps, L)        # source sample times
    x̂  = linspace(1/(2·tgt_fps), L/src_fps, num)      # target frame times
    ŷ  = interp1d(x, y, fill_value="extrapolate")(x̂)

Spark-first insight: both grids are **uniform** (linspace), so the bracketing
source segment for every target point is a closed-form index —
``i = clamp(floor((x̂ - x₀)/Δx), 0, L-2)`` — and the "interval join" collapses
to ONE equi-join on ``(key, i)`` against a lead-extended source table. No
range join, no per-key UDF; cost is a shuffle on the series key (exactly the
partitioning a 100 TB frame-grain table already has).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def with_frame_index(df: DataFrame, key: str, order: list[str]) -> DataFrame:
    """Assign the 0-based per-key frame index ``idx`` (the reference's
    implicit array position, SURVEY §1.4 frame-grain mapping)."""
    w = W.partitionBy(key).orderBy(*order)
    return df.withColumn("idx", (F.row_number().over(w) - 1).cast("bigint"))


def resample_linear(
    indexed: DataFrame,
    key: str,
    value: str,
    num: Column,
    src_fps: float,
) -> DataFrame:
    """Resample each key's series ``value`` (rows indexed 0..L-1 by ``idx``,
    as ``with_frame_index`` numbers them) onto ``num`` target frames (a
    per-key Column), reference grid semantics.

    Returns one row per (key, tgt_idx) with column ``resampled``.
    Keys with L < 2 are dropped (the reference errors on empty audio,
    a2en.py:38-39; a 1-sample series has no segment to interpolate).
    """
    L = "_L"
    src = indexed.withColumn(L, F.count(F.lit(1)).over(W.partitionBy(key)))
    src = src.filter(F.col(L) >= 2)

    # Source grid: x_i = x0 + i·dx with x0 = 1/(2s), dx = (L/s − x0)/(L−1).
    s = F.lit(float(src_fps))
    x0 = 1.0 / (2 * s)
    dx = (F.col(L) / s - x0) / (F.col(L) - 1)

    # Per-key target rows: j = 0..num-1, x̂_j = x̂0 + j·dx̂ with
    # x̂0 = 1/(2·tgt_fps), tgt_fps = num/(L/s), dx̂ = (L/s − x̂0)/(num−1).
    keys = src.groupBy(key).agg(F.max(L).alias(L)).withColumn("_num", num)
    keys = keys.filter(F.col("_num") >= 2)
    tgt = keys.select(
        key,
        F.col(L),
        F.col("_num"),
        F.posexplode(F.sequence(F.lit(0), F.col("_num") - 1)).alias("_pos", "tgt_idx"),
    ).drop("_pos")
    tgt_fps = F.col("_num") / (F.col(L) / s)
    xhat0 = 1.0 / (2 * tgt_fps)
    dxhat = (F.col(L) / s - xhat0) / (F.col("_num") - 1)
    xhat = xhat0 + F.col("tgt_idx") * dxhat
    seg = F.greatest(
        F.lit(0),
        F.least(
            (F.col(L) - 2).cast("bigint"),
            F.floor((xhat - (1.0 / (2 * s))) / ((F.col(L) / s - 1.0 / (2 * s)) / (F.col(L) - 1))).cast("bigint"),
        ),
    )
    tgt = tgt.select(
        key, "tgt_idx", xhat.alias("_xhat"), seg.alias("_seg")
    )

    # Lead-extend the source so each segment row carries (y_i, y_{i+1}).
    wlead = W.partitionBy(key).orderBy("idx")
    segs = src.select(
        key,
        F.col("idx").alias("_seg_idx"),
        F.col(value).alias("_y0"),
        F.lead(value, 1).over(wlead).alias("_y1"),
        (x0 + F.col("idx") * dx).alias("_x0"),
        dx.alias("_dx"),
    ).filter(F.col("_y1").isNotNull())

    # Aliased sides: tgt and segs both descend from the same scan, and
    # tgt[key] == segs[key] on a shared attribute id logs a 'trivially
    # true equals predicate' warning.
    tgt = tgt.alias("_tgt")
    segs = segs.alias("_segs")
    joined = tgt.join(
        segs,
        (F.col(f"_tgt.{key}") == F.col(f"_segs.{key}"))
        & (F.col("_tgt._seg") == F.col("_segs._seg_idx")),
    ).drop(F.col(f"_segs.{key}"))
    frac = (F.col("_xhat") - F.col("_x0")) / F.col("_dx")
    return joined.select(
        key,
        "tgt_idx",
        (F.col("_y0") + frac * (F.col("_y1") - F.col("_y0"))).alias("resampled"),
    )
