"""Window frame conventions + FIR smoothing coefficients (SURVEY §2.c S6/S8).

Two frame conventions appear in the reference:

- ``as_windowed(x, size)`` (dpl/processor/utils.py:68-98): window *i* covers
  original indices ``[i-(size-size//2), i+size//2)`` →
  ``ROWS BETWEEN (size-size//2) PRECEDING AND (size//2 - 1) FOLLOWING``.
- centered neighbor windows (dpl/processor/nodes/bboxes.py:123-145):
  ``[i-w//2, i+w-w//2-1]`` → ``ROWS BETWEEN w//2 PRECEDING AND
  (w - w//2 - 1) FOLLOWING``.

Savitzky–Golay smoothing (scipy ``savgol_filter(x, w, o)``, callers
bboxes.py:159-162 / emoca.py:87-97) is a fixed FIR: the coefficient vector is
the least-squares polynomial-fit projector row, computed here with numpy only
(no scipy in the runtime) — exact to scipy's for the interior convolution.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np


def as_windowed_bounds(size: int) -> tuple[int, int]:
    """Frame offsets (lo, hi) inclusive for the `as_windowed` convention."""
    return (-(size - size // 2), size // 2 - 1)


def centered_frame_bounds(window: int) -> tuple[int, int]:
    """Frame offsets (lo, hi) inclusive for centered neighbor windows."""
    return (-(window // 2), window - window // 2 - 1)


@lru_cache(maxsize=None)
def savgol_coefficients(window: int, order: int) -> tuple[float, ...]:
    """Savitzky–Golay smoothing coefficients (deriv=0) for an odd window.

    Least-squares projector: with design matrix ``A[i, j] = x_i**j`` over
    positions ``x = -h..h``, the smoothed center value is ``c @ y`` where
    ``c = (pinv(A))[0]`` — identical to ``scipy.signal.savgol_coeffs(w, o)``
    (reversed order irrelevant: smoothing coefs are symmetric).
    """
    if window % 2 != 1:
        raise ValueError("savgol window must be odd")
    if order >= window:
        raise ValueError("polyorder must be < window")
    half = window // 2
    x = np.arange(-half, half + 1, dtype=np.float64)
    a = np.vander(x, order + 1, increasing=True)  # A[i, j] = x_i ** j
    coefs = np.linalg.pinv(a)[0]
    return tuple(float(c) for c in coefs)
