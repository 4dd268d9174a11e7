"""N17 orthographic-projection math (VERDICT r10 #2): the real
``batch_orth_proj`` semantics (dpl/rendering/utils.py:135-145) plus the
renderer's y/z flip (dpl/processor/nodes/rendering.py:101-106), in both the
numpy form (``operators.models``) and the codegen'd column-expression form
(``functions.geometry.orth_project``) — validated against each other and
against the hand-written formula, bit-exactly.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.functions.geometry import (
    orth_project,
    orth_project_sql,
)
from talkinghead_datapipeline_spark.operators.models import (
    ShapeRenderer,
    batch_orth_proj,
    view_transform,
)

rng = np.random.default_rng(17)


def test_batch_orth_proj_formula():
    X = rng.normal(size=(64, 3))
    cam = np.array([1.7, 0.25, -0.4])
    out = batch_orth_proj(X, cam)
    # reference: X_trans = X[:, :2] + cam[1:]; keep z; Xn = cam[0] * X_trans
    np.testing.assert_array_equal(out[:, 0], cam[0] * (X[:, 0] + cam[1]))
    np.testing.assert_array_equal(out[:, 1], cam[0] * (X[:, 1] + cam[2]))
    np.testing.assert_array_equal(out[:, 2], cam[0] * X[:, 2])


def test_batch_orth_proj_scale_only_and_zero_cam():
    X = rng.normal(size=(8, 3))
    # pure scale: cam = (s, 0, 0) multiplies every coordinate
    np.testing.assert_array_equal(
        batch_orth_proj(X, np.array([2.0, 0.0, 0.0])), 2.0 * X
    )
    # zero scale collapses everything to the origin
    np.testing.assert_array_equal(
        batch_orth_proj(X, np.array([0.0, 1.0, 1.0])), np.zeros_like(X)
    )


def test_view_transform_flips_y_and_z():
    X = rng.normal(size=(16, 3))
    cam = np.array([0.9, -0.1, 0.3])
    proj = batch_orth_proj(X, cam)
    view = view_transform(X, cam)
    np.testing.assert_array_equal(view[:, 0], proj[:, 0])
    np.testing.assert_array_equal(view[:, 1], -proj[:, 1])
    np.testing.assert_array_equal(view[:, 2], -proj[:, 2])


def test_renderer_consumes_projection():
    # the frame must respond to the camera through the projection: same
    # verts, different cam → different view tensor → different coverage
    X = rng.normal(size=(16, 3))
    r = ShapeRenderer((4, 4))
    cam_a, cam_b = np.array([1.0, 0.0, 0.0]), np.array([2.0, 0.0, 0.0])
    fa = r.render(X, view_transform(X, cam_a))
    fb = r.render(X, view_transform(X, cam_b))
    assert len(fa) == len(fb) == 16
    assert fa != fb


def test_column_expressions_match_numpy_bitexact(spark):
    pts = rng.normal(size=(50, 3))
    cams = rng.normal(size=(50, 3))
    rows = [
        (i, float(p[0]), float(p[1]), float(p[2]),
         float(c[0]), float(c[1]), float(c[2]))
        for i, (p, c) in enumerate(zip(pts, cams))
    ]
    df = spark.createDataFrame(
        rows, "id long, x double, y double, z double, s double, tx double, ty double"
    )
    proj = orth_project(
        F.col("x"), F.col("y"), F.col("z"), F.col("s"), F.col("tx"), F.col("ty")
    )
    got = {
        r["id"]: (r["px"], r["py"], r["pz"])
        for r in df.select(
            "id", proj["px"].alias("px"), proj["py"].alias("py"),
            proj["pz"].alias("pz"),
        ).collect()
    }
    for i, (p, c) in enumerate(zip(pts, cams)):
        want = view_transform(p[None, :], c)[0]
        assert got[i] == (want[0], want[1], want[2]), i  # exact, not approx


def test_sql_twin_matches_numpy_bitexact():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    # literals must be DOUBLE: bare decimals in VALUES parse as DECIMAL and
    # the arithmetic would run in decimal, unlike the real oracle whose
    # inputs are DOUBLE columns
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ", ".join(
            "(" + ", ".join(
                f"CAST({float(v)!r} AS DOUBLE)" for v in (*p, *c)
            ) + ")"
            for p, c in zip(rng.normal(size=(20, 3)), rng.normal(size=(20, 3)))
        )
        + ") t(x, y, z, s, tx, ty)"
    )
    e = orth_project_sql("x", "y", "z", "s", "tx", "ty")
    rows = con.execute(
        f"SELECT x, y, z, s, tx, ty, {e['px']} AS px, {e['py']} AS py, "
        f"{e['pz']} AS pz FROM pts"
    ).fetchall()
    for x, y, z, s, tx, ty, px, py, pz in rows:
        want = view_transform(np.array([[x, y, z]]), np.array([s, tx, ty]))[0]
        assert (px, py, pz) == (want[0], want[1], want[2])
