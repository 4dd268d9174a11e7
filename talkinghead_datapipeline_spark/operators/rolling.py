"""Rolling-window smoothing operators (SURVEY §2.b N12, §2.c S8).

Two tiers:

- **SQL tier** (queries/windows.py): FIR savgol on interior rows, rolling
  min/max extents — pure window expressions, codegen'd, oracle-checkable.
- **Exact tier** (here): scipy-parity ``savgol_filter(x, w, o)`` including
  the default ``mode='interp'`` edge handling (polynomial refit at the
  boundaries), which SQL window frames cannot express. Implemented in numpy
  (no scipy in the runtime) inside ``applyInPandas`` per series key — the
  per-clip grain matches the reference's whole-array smoothing
  (dpl/processor/nodes/bboxes.py:147-170, dpl/processor/nodes/emoca.py:87-97).

At 100 TB the applyInPandas shuffle is keyed by clip — the same partitioning
every frame-grain operator uses, so Exchange reuse keeps this to one shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from talkinghead_datapipeline_spark.functions.windows import savgol_coefficients


def savgol_filter_numpy(y: np.ndarray, window: int, order: int) -> np.ndarray:
    """Exact scipy ``savgol_filter(y, window, order, mode='interp')`` parity.

    Interior: FIR convolution with the least-squares projector coefficients.
    Edges: refit a degree-``order`` polynomial to the first/last ``window``
    samples and evaluate it at the edge positions (scipy's 'interp' mode).
    """
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n < window:
        # scipy raises for n < window in 'interp' mode; mirror that contract.
        raise ValueError("series shorter than savgol window")
    half = window // 2
    coefs = np.asarray(savgol_coefficients(window, order))
    out = np.empty_like(y)
    # interior via correlation (coefficients are symmetric for deriv=0)
    for i in range(half, n - half):
        out[i] = coefs @ y[i - half : i + half + 1]
    # edge refit: head
    x_head = np.arange(window, dtype=np.float64)
    p_head = np.polynomial.polynomial.polyfit(x_head, y[:window], order)
    out[:half] = np.polynomial.polynomial.polyval(x_head[:half], p_head)
    # edge refit: tail
    p_tail = np.polynomial.polynomial.polyfit(x_head, y[n - window :], order)
    out[n - half :] = np.polynomial.polynomial.polyval(x_head[half + 1 :], p_tail)
    return out


def savgol_smooth(
    df: DataFrame,
    key: str,
    order_col: str,
    value_cols: list[str],
    window: int,
    polyorder: int = 3,
) -> DataFrame:
    """Per-key exact savgol smoothing of one or more value columns.

    Keys shorter than ``window`` pass through unsmoothed (the reference
    smooths whole clips that are always longer than its windows; we choose
    pass-through over error for robustness and document it).
    """
    from talkinghead_datapipeline_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    out_schema = df.schema

    def _smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        if len(pdf) >= window:
            for c in value_cols:
                pdf[c] = savgol_filter_numpy(pdf[c].to_numpy(), window, polyorder)
        return pdf

    return df.groupBy(key).applyInPandas(_smooth, schema=out_schema)
