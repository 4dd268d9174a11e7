"""Hypothesis fuzz for the N17 rasterizer and texture-sampling primitives.

Property targets (the same exactness claims the n17_render_mask_zbuffer
oracle rides):
- the vectorized float64 rasterizer agrees with an exact-Fraction
  rasterizer on arbitrary integer meshes, INCLUDING adversarial geometry:
  pixel centers exactly on edges/vertices, degenerate faces, z ties —
  both in the default tiles and one pixel row per tile, where every tile
  seam and the y-extent face culling meet that geometry;
- every covered pixel's barycentric weights reconstruct the edge-function
  identity; zbuf equals the exact rational;
- grid_sample_bilinear is exact against a Fraction bilinear interpolator
  on in-range taps and zero outside.
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from talkinghead_datapipeline_spark.operators import rasterize as rasterize_module
from talkinghead_datapipeline_spark.operators.rasterize import (
    grid_sample_bilinear,
    pixel_centers,
    rasterize,
)
from tests.test_rasterize import _fraction_rasterize

SIZE = 4  # 16 pixels: keeps the Fraction reference fast under hypothesis

# Pixel centers at SCALE=4096, size 4 live on multiples of 1024 shifted by
# 3072 — draw vertex coords from a lattice that HITS pixel centers often so
# edge-on-pixel and vertex-on-pixel ties are common, not measure-zero.
coord = st.integers(min_value=-6, max_value=6).map(lambda k: k * 1024)
zval = st.integers(min_value=0, max_value=65536)
vert = st.tuples(coord, coord, zval)


vert_lists = st.lists(vert, min_size=3, max_size=8)
face_lists = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7), st.integers(0, 7)),
    min_size=1,
    max_size=6,
)


def _assert_matches_fraction(verts, face_idx):
    q = np.array(verts, dtype=np.int64)
    faces = np.array(
        [(a % len(q), b % len(q), c % len(q)) for a, b, c in face_idx],
        dtype=np.int64,
    )
    ras = rasterize(q, faces, SIZE)
    m, p, z = _fraction_rasterize(q, faces, SIZE)
    np.testing.assert_array_equal(ras["mask"], m)
    np.testing.assert_array_equal(ras["pix_to_face"], p)
    np.testing.assert_array_equal(ras["zbuf"][m], z[m])
    # barycentric identity on covered pixels: weights sum to 1 and
    # reconstruct z exactly as (sum w_i z_i)
    bary = ras["bary"][m]
    np.testing.assert_allclose(bary.sum(axis=-1), 1.0, rtol=0, atol=1e-12)
    assert (ras["bary"][~m] == 0.0).all()


@settings(max_examples=60, deadline=None)
@given(verts=vert_lists, face_idx=face_lists)
def test_rasterize_matches_fraction_reference(verts, face_idx):
    _assert_matches_fraction(verts, face_idx)


@settings(max_examples=60, deadline=None)
@given(verts=vert_lists, face_idx=face_lists)
def test_one_row_tiles_match_fraction_reference(verts, face_idx):
    """The same lattice geometry swept one pixel row per tile, so the
    y-extent culling and every tile seam meet edge-on-pixel centres,
    degenerate faces and z ties."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(rasterize_module, "TILE_ELEMS", 1)
        _assert_matches_fraction(verts, face_idx)


@settings(max_examples=60, deadline=None)
@given(
    data=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=12, max_size=12
    ),
    # 1/8-grid ndc taps: exactly representable, exercises in/out of range
    gx=st.integers(min_value=-12, max_value=12),
    gy=st.integers(min_value=-12, max_value=12),
)
def test_grid_sample_matches_fraction_bilinear(data, gx, gy):
    img = np.array(data, dtype=np.float64).reshape(1, 3, 4)
    x, y = gx / 8.0, gy / 8.0
    out = grid_sample_bilinear(img, np.array([[[x, y]]]))[0, 0, 0]

    # independent exact bilinear with zeros padding (align_corners=False)
    C, H, W = img.shape
    fx = (Fraction(gx, 8) + 1) * W / 2 - Fraction(1, 2)
    fy = (Fraction(gy, 8) + 1) * H / 2 - Fraction(1, 2)
    x0, y0 = fx.__floor__(), fy.__floor__()
    expect = Fraction(0)
    for xi, yi, w in (
        (x0, y0, (1 - (fx - x0)) * (1 - (fy - y0))),
        (x0 + 1, y0, (fx - x0) * (1 - (fy - y0))),
        (x0, y0 + 1, (1 - (fx - x0)) * (fy - y0)),
        (x0 + 1, y0 + 1, (fx - x0) * (fy - y0)),
    ):
        if 0 <= xi < W and 0 <= yi < H:
            expect += Fraction(int(img[0, yi, xi])) * w
    assert abs(out - float(expect)) < 1e-9


def test_pixel_center_on_shared_edge_counts_for_both_faces():
    # size-4 pixel centers sit at x in {±1024, ±3072}; put two faces'
    # SHARED edge exactly on x = 1024 so a full column of centers lies on
    # it. Both faces must claim those pixels (inclusive coverage), the
    # interpolated z on the shared edge is identical for both (exact tie),
    # and the winner must be the lower face id.
    q = np.array(
        [
            [1024, -8000, 500],
            [1024, 8000, 500],
            [-8000, 0, 500],
            [8000, 0, 400],
        ],
        dtype=np.int64,
    )
    faces = np.array([[0, 1, 2], [0, 1, 3]])
    ras = rasterize(q, faces, SIZE)
    px, _ = pixel_centers(SIZE)
    col = int(np.where(px == 1024)[0][0])
    # every pixel center in that column lies on the shared edge: covered,
    # and face 1 (z=400..500 interpolated lower at the edge? both faces
    # interpolate z=500 ON the edge between verts 0-1) -> exact tie -> id 0
    assert ras["mask"][:, col].all()
    assert (ras["zbuf"][:, col] == 500.0).all()
    assert (ras["pix_to_face"][:, col] == 0).all()
