"""Bbox / landmark geometry kernels as pure column expressions (SURVEY §2.c).

Re-expresses dpl/processor/utils.py:7-65 (S1 `to_square`, S2 `pad_bbox`,
S3 `to_integer`, S4 `l2_batch`, S5 `get_blinks_data`) as JVM-side Spark SQL
expressions — no Python in the hot path, fully codegen'd.

A bbox is five columns/expressions ``(x1, y1, x2, y2, score)``; the helpers
take and return ``dict[str, Column]`` so chains stay composable:
``to_integer(pad_bbox(to_square(b), 0.1))`` mirrors the reference's
TransformRawBboxesNode chain (dpl/processor/nodes/bboxes.py:12-42).

Rounding note: the reference uses Python ``round`` / ``np.rint`` — HALF-TO-
EVEN (banker's). These kernels match it exactly via ``round_half_even``; the
DuckDB oracles use ``roundbankers(x, 0)`` so both engines share the tie rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

Bbox = dict[str, Column]


def round_half_away(x: Column) -> Column:
    """Integer rounding, half away from zero, as pure double arithmetic.

    Spark's ``round(x, 0)`` routes every row through java.math.BigDecimal —
    measured ~3x the cost of the whole surrounding kernel chain at 600k
    rows. This form stays inside whole-stage codegen and is exact for
    |x| < 2^52: a double's fractional part ``x - floor(x)`` is exactly
    representable, so the ``>= 0.5`` comparison decides identically to
    BigDecimal HALF_UP (and to DuckDB's std::round oracle). Returns LONG.
    """
    ax = F.abs(x)
    fl = F.floor(ax)
    mag = F.when(ax - fl >= 0.5, fl + 1).otherwise(fl)
    return F.when(x < 0, -mag).otherwise(mag)


def round_half_even(x: Column) -> Column:
    """Integer rounding, HALF-TO-EVEN — exact Python ``round``/``np.rint``
    parity (dpl/processor/utils.py to_integer/pad_bbox use Python round),
    as pure double arithmetic that stays inside whole-stage codegen (same
    BigDecimal-avoidance rationale as ``round_half_away``; Spark's
    ``bround`` also routes through BigDecimal).

    Exact for |x| < 2^52: the fractional part is exactly representable, so
    the three-way <0.5 / >0.5 / ==0.5 branch decides identically to
    ``np.rint``; on the exact tie the even neighbor of ``floor(x)`` is
    chosen (works for negatives too: Spark ``%`` keeps the dividend sign,
    and any nonzero remainder marks ``fl`` odd). Returns LONG.
    """
    fl = F.floor(x)
    frac = x - fl
    return (
        F.when(frac > 0.5, fl + 1)
        .when(frac < 0.5, fl)
        .otherwise(F.when(fl % 2 == 0, fl).otherwise(fl + 1))
    )


def make_bbox(x1: Column, y1: Column, x2: Column, y2: Column, score: Column) -> Bbox:
    return {"x1": x1, "y1": y1, "x2": x2, "y2": y2, "score": score}


def to_square(b: Bbox) -> Bbox:
    """S1 (utils.py:27-39): expand the shorter side symmetrically so w == h."""
    w = b["x2"] - b["x1"]
    h = b["y2"] - b["y1"]
    side = F.greatest(w, h)
    return make_bbox(
        x1=b["x1"] - (side - w) / 2,
        y1=b["y1"] - (side - h) / 2,
        x2=b["x2"] + (side - w) / 2,
        y2=b["y2"] + (side - h) / 2,
        score=b["score"],
    )


def pad_bbox(b: Bbox, pad: float) -> Bbox:
    """S2 (utils.py:42-50): pad all sides; fractional pad = round(pad·max_side)."""
    if isinstance(pad, float) and not pad.is_integer():
        max_side = F.greatest(b["x2"] - b["x1"], b["y2"] - b["y1"])
        pad_e = round_half_even(F.lit(pad) * max_side)
    else:
        pad_e = F.lit(pad)
    return make_bbox(
        x1=b["x1"] - pad_e,
        y1=b["y1"] - pad_e,
        x2=b["x2"] + pad_e,
        y2=b["y2"] + pad_e,
        score=b["score"],
    )


def to_integer(b: Bbox) -> Bbox:
    """S3 (utils.py:7-24, ``preserve_size=True``): integer-round the top-left
    corner and the w/h, so w/h are preserved exactly; score →
    round(score·100)."""
    x1i = round_half_even(b["x1"])
    y1i = round_half_even(b["y1"])
    x2i = x1i + round_half_even(b["x2"] - b["x1"])
    y2i = y1i + round_half_even(b["y2"] - b["y1"])
    return make_bbox(
        x1=x1i, y1=y1i, x2=x2i, y2=y2i,
        score=round_half_even(b["score"] * 100),
    )


def stage_bbox(df, b: Bbox, keep: list[str]):
    """Materialize a bbox stage as aliased columns and return the new
    DataFrame plus a column-reference bbox for the next kernel.

    Chaining kernels as raw expressions multiplies subtree copies (each
    stage references its input corners several times; ``round_half_away``
    references its argument 4x), and past a few stages the generated code
    exceeds the JIT/codegen method limits and execution falls back to
    interpreted eval — measured 9x slower at sf0.1. Staging through
    aliases keeps every value computed once: CollapseProject will not
    re-inline a non-cheap alias referenced more than once, and the
    projections still pipeline inside one whole-stage-codegen span (no
    shuffle, no materialization)."""
    out = df.select(*keep, *[v.alias(k) for k, v in b.items()])
    return out, {k: F.col(k) for k in b}


def l2(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """S4 (utils.py:53-54): Euclidean distance between two 2-D points."""
    return F.sqrt(F.pow(x1 - x2, F.lit(2)) + F.pow(y1 - y2, F.lit(2)))


def eye_aspect_ratio(
    outer_a: tuple[Column, Column],
    outer_b: tuple[Column, Column],
    top_a: tuple[Column, Column],
    bot_a: tuple[Column, Column],
    top_b: tuple[Column, Column],
    bot_b: tuple[Column, Column],
) -> Column:
    """S5 (utils.py:57-65): blink EAR = (d(topA,botA)+d(topB,botB)) / (2·d(outerA,outerB))."""
    v1 = l2(top_a[0], top_a[1], bot_a[0], bot_a[1])
    v2 = l2(top_b[0], top_b[1], bot_b[0], bot_b[1])
    hor = l2(outer_a[0], outer_a[1], outer_b[0], outer_b[1])
    return (v1 + v2) / (2 * hor)


def orth_project(
    x: Column, y: Column, z: Column, s: Column, tx: Column, ty: Column
) -> dict[str, Column]:
    """N17 weak-perspective (orthographic) camera projection as pure column
    expressions — the last SURVEY §2 kernel expressed in the engine
    (VERDICT r10 #2).

    Reference semantics (dpl/rendering/utils.py:135-145 ``batch_orth_proj``):
    translate x/y by cam[1:] = (tx, ty), keep z, scale all three by
    cam[0] = s; the rendering node then flips the sign of y and z before
    rasterization (dpl/processor/nodes/rendering.py:101-106
    ``trans_verts[:, :, 1:] = -trans_verts[:, :, 1:]``). This helper returns
    the POST-FLIP view-space coordinates — the exact tensor the rasterizer
    consumes.

    Determinism: three mul/add/negate double expressions, fully inside
    whole-stage codegen; given bit-identical inputs both engines produce
    bit-identical outputs (IEEE ops, no library rounding). The DuckDB
    oracle shares the expression text verbatim: ``s * (x + tx)``,
    ``-(s * (y + ty))``, ``-(s * z)``.
    """
    return {
        "px": s * (x + tx),
        "py": -(s * (y + ty)),
        "pz": -(s * z),
    }


def orth_project_sql(x: str, y: str, z: str, s: str, tx: str, ty: str) -> dict[str, str]:
    """DuckDB-side twin of :func:`orth_project` — identical expression text
    so the two engines run the same IEEE double DAG."""
    return {
        "px": f"{s} * ({x} + {tx})",
        "py": f"-({s} * ({y} + {ty}))",
        "pz": f"-({s} * {z})",
    }
